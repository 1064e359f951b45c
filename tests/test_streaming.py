"""Streaming equivalence harness (SURVEY §5.2 item 5): replay the
events table through a file-source stream and assert the drained
streaming state equals the batch result; plus watermark late-drop
and custom-stateful behavior that no batch oracle can express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE_DIR
from zappy_spark.session import load_table
from zappy_spark.streaming import jobs


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_replay"))
    jobs.replay_events_dir(spark, SF_SMOKE_DIR, d, n_files=4)
    return d


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, replay_dir):
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(jobs.tumbling_counts(stream), "t_tumble")
    batch = jobs.tumbling_counts(spark.read.parquet(replay_dir))
    assert _rows(got, "w", "event_type", "c", "s") == _rows(
        batch, "w", "event_type", "c", "s"
    )


def test_session_stream_equals_batch(spark, replay_dir):
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.session_counts(stream).select(
            "user_id", F.col("session_window.start").alias("st"), "n"
        ),
        "t_sess",
    )
    batch = jobs.session_counts(spark.read.parquet(replay_dir)).select(
        "user_id", F.col("session_window.start").alias("st"), "n"
    )
    assert _rows(got, "user_id", "st", "n") == _rows(batch, "user_id", "st", "n")


def test_dedup_stream_keeps_first(spark, replay_dir):
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.dedup_first(stream).select("user_id", "event_type", "event_id"),
        "t_dedup",
        output_mode="append",
    )
    # key set and cardinality must match the batch row_number()=1 form
    batch_keys = _rows(
        spark.read.parquet(replay_dir)
        .select("user_id", "event_type")
        .distinct(),
        "user_id",
        "event_type",
    )
    assert _rows(got.select("user_id", "event_type"), "user_id", "event_type") == batch_keys


def test_exact_first_arrival_on_controlled_stream(spark, tmp_path):
    """Hand-built 3-file stream where arrival order is fully known —
    asserts dropDuplicates keeps exactly the first-arriving row."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    files = [
        [(1, base, 7, "click", 1.0, "{}")],
        [(2, base + dt.timedelta(minutes=5), 7, "click", 2.0, "{}")],
        [(3, base + dt.timedelta(minutes=9), 7, "view", 3.0, "{}")],
    ]
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    d = str(tmp_path / "ctrl")
    spark.createDataFrame(files[0], cols).coalesce(1).write.mode("append").parquet(d)
    q = (
        jobs.dedup_first(jobs.stream_events(spark, d))
        .writeStream.format("memory")
        .queryName("t_ctrl")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    for rows in files[1:]:
        spark.createDataFrame(rows, cols).coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()
    q.stop()
    kept = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in spark.table("t_ctrl").collect()
    }
    assert kept == {(7, "click"): 1, (7, "view"): 3}


def test_stream_static_join_equals_batch(spark, replay_dir):
    nation = load_table(spark, SF_SMOKE_DIR, "nation")
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.enrich_with_static(stream, nation), "t_enrich"
    )
    batch = jobs.enrich_with_static(spark.read.parquet(replay_dir), nation)
    assert _rows(got, "n_name", "c", "s") == _rows(batch, "n_name", "c", "s")


def test_watermark_drops_late_rows(spark, tmp_path):
    """Out-of-order replay: a row arriving after the watermark passed
    its window end must be dropped (append mode)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    files = [
        # f1: on-time rows; max ts 11:30 → watermark 10:30 after batch
        [
            (1, base + dt.timedelta(hours=10, minutes=5), 1, "click", 1.0, "{}"),
            (2, base + dt.timedelta(hours=10, minutes=10), 1, "click", 1.0, "{}"),
            (3, base + dt.timedelta(hours=11, minutes=30), 1, "click", 1.0, "{}"),
        ],
        # f2: 09:00 event — window [09:00,10:00) ends before the
        # 10:30 watermark → dropped
        [(4, base + dt.timedelta(hours=9), 1, "click", 1.0, "{}")],
        # f3: advance watermark to 12:30 so [10,11) and [11,12) close
        [(5, base + dt.timedelta(hours=13, minutes=30), 1, "click", 1.0, "{}")],
    ]
    d = str(tmp_path / "late")
    # write the first file, start the stream, then drip-feed the rest
    # with processAllAvailable() between — batch order is then exactly
    # file order (mod-time order of concurrent writes is not reliable).
    spark.createDataFrame(files[0], cols).coalesce(1).write.mode("append").parquet(d)
    q = (
        jobs.tumbling_with_watermark(jobs.stream_events(spark, d))
        .writeStream.format("memory")
        .queryName("t_wm")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    for rows in files[1:]:
        spark.createDataFrame(rows, cols).coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()
    q.stop()
    emitted = {(r["w"].hour, r["c"]) for r in spark.table("t_wm").collect()}
    assert (10, 2) in emitted, f"on-time window missing: {emitted}"
    assert (11, 1) in emitted, f"on-time window missing: {emitted}"
    assert not any(h == 9 for h, _ in emitted), f"late row not dropped: {emitted}"


def test_stateful_running_count(spark, replay_dir):
    """applyInPandasWithState running count: the last update per user
    equals the batch per-user count."""
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.running_count_stateful(stream), "t_state", output_mode="update"
    )
    final = (
        got.groupBy("user_id").agg(F.max("n_events").alias("n")).collect()
    )
    batch = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(replay_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["user_id"]: r["n"] for r in final} == batch


def test_sliding_window_stream_equals_batch(spark, replay_dir):
    """S2 twin: 2h/1h sliding windows over the drained stream."""

    def sliding(df):
        return (
            df.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
            .agg(F.count("*").alias("c"))
            .select(F.col("window.start").alias("w"), "event_type", "c")
        )

    got = jobs.run_to_memory(
        sliding(jobs.stream_events(spark, replay_dir)), "t_slide"
    )
    batch = sliding(spark.read.parquet(replay_dir))
    assert _rows(got, "w", "event_type", "c") == _rows(batch, "w", "event_type", "c")


def test_rocksdb_state_store_provider(spark, replay_dir):
    """The production state-store config (SCALE.md): the watermarked
    tumbling agg must run and converge identically on the RocksDB
    provider."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = jobs.run_to_memory(
            jobs.tumbling_counts(jobs.stream_events(spark, replay_dir)),
            "t_rocks",
        )
        batch = jobs.tumbling_counts(spark.read.parquet(replay_dir))
        assert _rows(got, "w", "event_type", "c", "s") == _rows(
            batch, "w", "event_type", "c", "s"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


@pytest.mark.slow
def test_stream_stream_interval_join_equals_batch(spark, replay_dir):
    """Stream-stream join (clicks ⋈ purchases within 1h, both sides
    watermarked) must converge to the batch interval join."""

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    s_clicks, s_purch = split(jobs.stream_events(spark, replay_dir))
    got = jobs.run_to_memory(
        jobs.interval_stream_join(s_clicks, s_purch),
        "t_ssj",
        output_mode="append",
    )
    b_clicks, b_purch = split(spark.read.parquet(replay_dir))
    batch = jobs.interval_stream_join(b_clicks, b_purch)
    assert _rows(got, "c_id", "p_id") == _rows(batch, "c_id", "p_id")
    assert got.count() > 0  # non-vacuous: the window does match pairs


def test_incremental_hll_equals_batch_sketch(spark, replay_dir, tmp_path):
    """Drained incremental sketch state must EQUAL the one-pass batch
    sketch per day — the merge identity that makes the streaming
    pattern trustworthy (not just approximately right)."""
    state = str(tmp_path / "hll_state")
    stream = jobs.stream_events(spark, replay_dir)
    q = jobs.incremental_hll(stream, state, lgk=12)
    q.processAllAvailable()
    q.stop()

    got = _rows(jobs.hll_state_estimates(spark, state), "day", "approx_distinct")
    batch = _rows(
        spark.read.parquet(replay_dir)
        .withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias(
                "approx_distinct"
            )
        ),
        "day",
        "approx_distinct",
    )
    assert got == batch and len(got) > 1


def test_windowed_topk_stream_equals_batch(spark, replay_dir, tmp_path):
    """Drained foreachBatch top-k state must equal the batch s8
    ranking — the pattern for non-incrementalizable ops (window
    functions) over an incrementally-maintained aggregate."""
    out = str(tmp_path / "topk_state")
    stream = jobs.stream_events(spark, replay_dir)
    q = jobs.windowed_topk(stream, out, k=2)
    q.processAllAvailable()
    q.stop()

    from pyspark.sql import Window

    got = _rows(spark.read.parquet(out), "w", "event_type", "c", "rn")
    counts = (
        spark.read.parquet(replay_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(F.col("window.start").alias("w"), "event_type", "c")
    )
    rank_w = Window.partitionBy("w").orderBy(F.desc("c"), "event_type")
    batch = _rows(
        counts.withColumn("rn", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rn") <= 2),
        "w",
        "event_type",
        "c",
        "rn",
    )
    assert got == batch and len(got) > 1


def test_dedup_within_watermark_stream_equals_batch(spark, replay_dir):
    """The dropDuplicatesWithinWatermark job keeps exactly the batch
    twin's kept set (replay files arrive in (ts, event_id) order, so
    first arrival == first by event time)."""
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.dedup_bucket_first(stream).select(
            "user_id", "event_type", "bucket", "event_id"
        ),
        "t_wm_dedup",
        output_mode="append",
    )
    batch = (
        spark.read.parquet(replay_dir)
        .withColumn("bucket", F.date_trunc("hour", F.col("ts")))
        .groupBy("user_id", "event_type", "bucket")
        .agg(
            F.min_by("event_id", F.struct("ts", "event_id")).alias("event_id")
        )
    )
    assert _rows(got, "user_id", "event_type", "bucket", "event_id") == _rows(
        batch, "user_id", "event_type", "bucket", "event_id"
    )


@pytest.mark.slow
def test_outer_interval_join_stream_equals_batch(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: unmatched clicks only
    emit once the watermark passes their interval, so the replay gets
    a far-future sentinel event as its LAST file to push the final
    watermark beyond every real click. Matched and unmatched pair
    sets must then equal the batch left join exactly."""
    import datetime as dt

    d = str(tmp_path / "outer_replay")
    jobs.replay_events_dir(spark, SF_SMOKE_DIR, d, n_files=3)
    sentinel_ts = dt.datetime(2030, 1, 1)
    sentinel = spark.createDataFrame(
        [(999_999, sentinel_ts, 999_999, "click", 0.0, "{}")],
        spark.read.parquet(d).schema,
    )
    sentinel.coalesce(1).write.mode("append").parquet(d)

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    sc, sp = split(jobs.stream_events(spark, d))
    got = jobs.run_to_memory(
        jobs.interval_stream_join_outer(sc, sp),
        "t_outer_ij",
        output_mode="append",
    ).filter(F.col("c_user") != 999_999)

    bc, bp = split(spark.read.parquet(d))
    # batch twin: plain left join, same projections/condition
    c = bc.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    p = bp.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    batch = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    ).filter(F.col("c_user") != 999_999)
    assert _rows(got, "c_user", "c_id", "p_id") == _rows(
        batch, "c_user", "c_id", "p_id"
    )


def test_incremental_upsert_snapshot_equals_batch(spark, replay_dir, tmp_path):
    """Drained CDC-apply snapshot == one-shot batch upsert over the
    whole changelog: per (user_id, event_type) the highest-event_id
    row wins, across all micro-batches."""
    snap = str(tmp_path / "snapshot")
    stream = jobs.stream_events(spark, replay_dir).select(
        "user_id", "event_type", "value", "event_id"
    )
    q = jobs.incremental_upsert(
        stream, snap, ["user_id", "event_type"], "event_id"
    )
    q.processAllAvailable()
    q.stop()
    got = jobs.latest_snapshot(spark, snap)
    assert got is not None
    batch = (
        spark.read.parquet(replay_dir)
        .groupBy("user_id", "event_type")
        .agg(
            F.max_by(
                F.struct("value", "event_id"), F.col("event_id")
            ).alias("_p")
        )
        .select(
            "user_id", "event_type", F.col("_p.value").alias("value"),
            F.col("_p.event_id").alias("event_id"),
        )
    )
    assert _rows(got, "user_id", "event_type", "value", "event_id") == _rows(
        batch, "user_id", "event_type", "value", "event_id"
    )
    # revisions retained: one per micro-batch (4 replay files)
    import os
    revs = [p for p in os.listdir(snap) if p.startswith("rev=")]
    assert len(revs) >= 2


def test_session_spans_stream_equals_batch(spark, replay_dir):
    """S11: the streaming session-span job, fully drained, must equal
    the batch twin — span = max(ts) - session start per (user,
    session)."""
    stream = jobs.stream_events(spark, replay_dir)
    cols = lambda df: df.select(  # noqa: E731
        "user_id",
        F.col("session_window.start").alias("st"),
        (F.unix_millis("mx") - F.unix_millis("session_window.start")).alias(
            "dur_ms"
        ),
        "n",
    )
    got = jobs.run_to_memory(cols(jobs.session_spans(stream)), "t_spans")
    batch = cols(jobs.session_spans(spark.read.parquet(replay_dir)))
    assert _rows(got, "user_id", "st", "dur_ms", "n") == _rows(
        batch, "user_id", "st", "dur_ms", "n"
    )


def test_anomaly_stateful_moments_exact(spark, replay_dir, tmp_path_factory):
    """The Welford/Chan state merge must be EXACT under any
    micro-batch split: final (n, mean, m2) per event_type over the
    4-file replay equals the batch global moments, and a 1-file
    replay produces the identical moments. The anomaly counter is
    split-dependent by design (scored against start-of-batch state)
    — only bounded sanity is asserted for it."""
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.anomaly_stateful(stream), "t_anom", output_mode="update"
    )
    final = {
        r["event_type"]: r
        for r in got.orderBy("n_seen")
        .groupBy("event_type")
        .agg(
            F.max("n_seen").alias("n"),
            F.max_by("mean", "n_seen").alias("mean"),
            F.max_by("m2", "n_seen").alias("m2"),
            F.max_by("n_anom", "n_seen").alias("n_anom"),
        )
        .collect()
    }
    batch = {
        r["event_type"]: r
        for r in spark.read.parquet(replay_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("mean"),
            (F.var_samp("value") * (F.count("*") - 1)).alias("m2"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    for k in batch:
        assert final[k]["n"] == batch[k]["n"]
        assert abs(final[k]["mean"] - batch[k]["mean"]) < 1e-9
        assert abs(final[k]["m2"] - batch[k]["m2"]) < 1e-6
        assert 0 <= final[k]["n_anom"] <= final[k]["n"]


@pytest.mark.slow
def test_windowed_distinct_stream_equals_batch(spark, tmp_path):
    """Chained stateful ops (dedup -> windowed count) give EXACT
    distinct users incrementally. Append mode only emits windows the
    watermark has closed, so the replay ends with a far-future
    sentinel to finalize every real window."""
    import datetime as dt

    d = str(tmp_path / "distinct_replay")
    jobs.replay_events_dir(spark, SF_SMOKE_DIR, d, n_files=3)
    sentinel_ts = dt.datetime(2030, 1, 1)
    sentinel = spark.createDataFrame(
        [(999_999, sentinel_ts, 999_999, "view", 0.0, "{}")],
        spark.read.parquet(d).schema,
    )
    sentinel.coalesce(1).write.mode("append").parquet(d)

    got = jobs.run_to_memory(
        jobs.windowed_distinct_users(jobs.stream_events(spark, d)),
        "t_wdu",
        output_mode="append",
    ).filter(F.col("w") < "2029-01-01")

    batch = (
        spark.read.parquet(d)
        .filter(F.col("user_id") != 999_999)
        .groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("du"))
    )
    assert _rows(got, "w", "event_type", "du") == _rows(
        batch, "w", "event_type", "du"
    )


def test_funnel_stateful_equals_batch_funnel(spark, replay_dir):
    """Drained per-user funnel stages == the r66 batch funnel's
    nested-min memberships (signup -> click <=24h -> purchase <=24h).
    Stage is monotone, so the max emitted per user is the final
    state."""
    got = (
        jobs.run_to_memory(
            jobs.funnel_stateful(jobs.stream_events(spark, replay_dir)),
            "t_funnel",
            output_mode="update",
        )
        .groupBy("user_id")
        .agg(F.max("stage").alias("stage"))
    )
    stream_stages = {r.user_id: r.stage for r in got.collect()}

    ev = spark.read.parquet(replay_dir)
    day = F.expr("INTERVAL 24 HOURS")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    s1 = {r.user_id for r in s.collect()}
    s2 = {r.user_id for r in c.collect()}
    s3 = {r.user_id for r in p.collect()}
    batch_stages = {
        u: (3 if u in s3 else 2 if u in s2 else 1 if u in s1 else 0)
        for u in {r.user_id for r in ev.select("user_id").distinct().collect()}
    }
    assert stream_stages == batch_stages


def test_snapshot_time_travel(spark, replay_dir, tmp_path):
    """read_snapshot(rev=N): each retained revision is a complete,
    immutable point-in-time state — earlier revisions have no later
    event_ids, and the newest revision equals the pointer read."""
    snap = str(tmp_path / "tt_snapshot")
    stream = jobs.stream_events(spark, replay_dir).select(
        "user_id", "event_type", "value", "event_id"
    )
    q = jobs.incremental_upsert(
        stream, snap, ["user_id", "event_type"], "event_id"
    )
    q.processAllAvailable()
    q.stop()

    revs = jobs.list_revisions(snap)
    assert len(revs) >= 2
    first = jobs.read_snapshot(spark, snap, revs[0])
    last = jobs.read_snapshot(spark, snap, revs[-1])
    latest = jobs.read_snapshot(spark, snap)
    assert _rows(latest, "user_id", "event_type", "event_id") == _rows(
        last, "user_id", "event_type", "event_id"
    )
    max_first = first.agg(F.max("event_id")).collect()[0][0]
    max_last = last.agg(F.max("event_id")).collect()[0][0]
    assert max_first < max_last  # earlier rev stops earlier in time
    # old revision is a valid complete snapshot: keys unique
    n = first.count()
    nk = first.select("user_id", "event_type").distinct().count()
    assert n == nk


@pytest.mark.slow
def test_gap_fill_stateful_equals_batch_locf(spark, tmp_path):
    """Drained streaming LOCF == the r64 batch spine+fill, compared
    on each user's own [first, last] hour span. Slots only emit when
    their hour closes, so a per-user far-future sentinel finalizes
    every real hour; stream rows beyond a user's batch span are the
    live-dashboard forward-fill and are filtered for the compare."""
    import datetime as dt

    from pyspark.sql import Window

    d = str(tmp_path / "locf_replay")
    jobs.replay_events_dir(spark, SF_SMOKE_DIR, d, n_files=3)
    users = [r.user_id for r in spark.read.parquet(d).select("user_id").distinct().collect()]
    sentinel_ts = dt.datetime(2030, 1, 1)
    schema = spark.read.parquet(d).schema
    sentinel = spark.createDataFrame(
        [(10**9 + u, sentinel_ts, u, "view", 0.0, "{}") for u in users],
        schema,
    )
    sentinel.coalesce(1).write.mode("append").parquet(d)

    got = jobs.run_to_memory(
        jobs.gap_fill_stateful(jobs.stream_events(spark, d)),
        "t_locf",
        output_mode="append",
    )

    ev = spark.read.parquet(d).filter(F.col("event_id") < 10**9)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.max_by("value", F.struct("ts", "event_id")), 2).alias("v"))
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    w = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    batch = spine.join(hourly, ["user_id", "h"], "left").select(
        "user_id",
        F.unix_micros("h").alias("h_us"),
        F.last("v", ignorenulls=True).over(w).alias("v_fill"),
    )
    span = {
        r.user_id: (r.h0, r.h1)
        for r in bounds.select(
            "user_id",
            F.unix_micros("h0").alias("h0"),
            F.unix_micros("h1").alias("h1"),
        ).collect()
    }
    got_rows = {
        (r.user_id, r.h_us): r.v_fill
        for r in got.collect()
        if r.user_id in span
        and span[r.user_id][0] <= r.h_us <= span[r.user_id][1]
    }
    batch_rows = {
        (r.user_id, r.h_us): r.v_fill for r in batch.collect()
    }
    assert got_rows == batch_rows


def test_variant_window_stream_equals_batch(spark, replay_dir):
    """VARIANT parse/extract inside a streaming stateful aggregate:
    drained stream equals the batch spelling of the same plan."""
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(jobs.variant_window_stats(stream), "t_variant")
    batch = jobs.variant_window_stats(spark.read.parquet(replay_dir))
    assert _rows(got, "w", "event_type", "avg_k", "max_k") == _rows(
        batch, "w", "event_type", "avg_k", "max_k"
    )


def test_streaming_corpus_prep_dedups_and_is_idempotent(
    spark, tmp_path
):
    """End-to-end streaming corpus front door: quality gate →
    fingerprint dedup (in-batch + against landed data) → hash
    sample → append. Single-batch drain equals the batch
    composition; incremental drains never land a duplicate
    fingerprint; re-draining a finished stream adds nothing."""
    import glob

    from zappy_spark.operators import dedup as _dedup
    from zappy_spark.operators import text as _text
    from zappy_spark.operators.sampling import hash_sample

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    replay = str(tmp_path / "docs_replay")
    # 3 id-ordered shards (ingest order follows id order)
    docs.repartitionByRange(3, "doc_id").write.parquet(replay)

    def batch_expected():
        kept = (
            _text.gopher_quality(docs, "text", "doc_id")
            .filter(F.col("keep") == 1)
            .select("doc_id")
        )
        quality = docs.join(kept, "doc_id")
        fp = _dedup.content_key("text", "fingerprint")
        keep_min = (
            quality.select(fp.alias("fp"), F.col("doc_id"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("k"))
        )
        surv = (
            quality.withColumn("fp", fp)
            .join(keep_min, "fp")
            .filter(F.col("doc_id") == F.col("k"))
            .drop("k")
        )
        return hash_sample(surv, "doc_id", 0.5)

    want = sorted(r.doc_id for r in batch_expected().collect())

    # one-batch drain == batch composition
    schema = spark.read.parquet(replay).schema
    ds1 = str(tmp_path / "ds_all")
    q = jobs.streaming_corpus_prep(
        spark.readStream.schema(schema).parquet(replay), ds1
    )
    q.processAllAvailable(); q.stop()
    got = sorted(r.doc_id for r in spark.read.parquet(ds1).collect())
    assert got == want

    # incremental drain (1 shard per micro-batch): no duplicate fp,
    # and ids are a subset of quality-passing sampled candidates
    ds2 = str(tmp_path / "ds_inc")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    q = jobs.streaming_corpus_prep(stream, ds2)
    q.processAllAvailable(); q.stop()
    landed = spark.read.parquet(ds2)
    fps = [r.fp for r in landed.select("fp").collect()]
    assert len(fps) == len(set(fps)), "duplicate fingerprint landed"
    n_before = landed.count()
    assert n_before > 0

    # re-drain a finished stream: nothing new lands
    q = jobs.streaming_corpus_prep(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay),
        ds2,
    )
    q.processAllAvailable(); q.stop()
    assert spark.read.parquet(ds2).count() == n_before
    assert len(glob.glob(ds2 + "/batch=*")) >= 3


def test_incremental_moments_equal_batch_exactly(spark, tmp_path):
    """Streamed moment partials merge to EXACT batch moments (the
    partials are additive integers/sums, so equality is to float
    addition-order tolerance), and a re-drained stream changes
    nothing."""
    import numpy as np

    from zappy_spark.operators.linalg import moments

    emb = spark.read.parquet(f"{SF_SMOKE_DIR}/embeddings.parquet")
    replay = str(tmp_path / "emb_replay")
    emb.repartitionByRange(3, "vec_id").write.parquet(replay)

    schema = spark.read.parquet(replay).schema
    state = str(tmp_path / "mom_state")
    q = jobs.incremental_moments(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay),
        "embedding",
        state,
    )
    q.processAllAvailable(); q.stop()

    n_b, mu_b, cov_b = moments(emb, "embedding")
    n_s, mu_s, cov_s = jobs.merged_moments(spark, state)
    assert n_s == n_b
    assert np.allclose(mu_s, mu_b) and np.allclose(cov_s, cov_b)

    q = jobs.incremental_moments(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay),
        "embedding",
        state,
    )
    q.processAllAvailable(); q.stop()
    n_s2, mu_s2, cov_s2 = jobs.merged_moments(spark, state)
    assert n_s2 == n_b and np.allclose(cov_s2, cov_b)


def test_streaming_ivf_index_matches_batch_probe(spark, tmp_path):
    """An IVF index built by streaming appends answers probes
    identically to the batch-built index (same fixed quantizer),
    and the nested batch=/cluster= layout still partition-prunes."""
    from zappy_spark.operators.similarity import (
        build_ivf_index,
        kmeans_fit,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE_DIR}/embeddings.parquet")
    cents = kmeans_fit(emb, "embedding", "vec_id", k=4, max_iter=4)

    batch_path = str(tmp_path / "ivf_batch")
    build_ivf_index(emb, "embedding", "vec_id", batch_path, k=4, max_iter=4)

    replay = str(tmp_path / "emb_replay")
    emb.repartitionByRange(3, "vec_id").write.parquet(replay)
    schema = spark.read.parquet(replay).schema
    stream_path = str(tmp_path / "ivf_stream")
    q = jobs.streaming_index_append(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay),
        cents,
        stream_path,
    )
    q.processAllAvailable(); q.stop()
    jobs.write_centroids(spark, cents, stream_path)

    assert spark.read.parquet(stream_path).count() == emb.count()
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    got = query_ivf_index(spark, stream_path, qvec, k=10, n_probe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "cluster" in plan.split("PartitionFilters:")[1][:200]
    want = query_ivf_index(spark, batch_path, qvec, k=10, n_probe=2)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_observed_metrics_in_streaming_progress(spark, replay_dir):
    """df.observe on a stream: per-batch metrics surface in the
    StreamingQuery progress events — pipeline health without a
    second pass, the streaming face of diagnostics.observed."""
    from pyspark.sql import Observation

    stream = jobs.stream_events(spark, replay_dir)
    observed = stream.observe(
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("null_vals"),
    )
    q = (
        observed.writeStream.format("noop")
        .option(
            "checkpointLocation", replay_dir + "_obs_ckpt"
        )
        .start()
    )
    q.processAllAvailable()
    progresses = [p for p in q.recentProgress if p.observedMetrics]
    q.stop()
    rows = sum(
        p.observedMetrics["ingest"]["rows"] for p in progresses
    )
    batch = spark.read.parquet(replay_dir)
    assert rows == batch.count()
    assert all(
        p.observedMetrics["ingest"]["null_vals"] == 0 for p in progresses
    )


def test_zarrlite_stream_feeds_incremental_moments(spark, tmp_path):
    """Integration: the zarrlite streaming tail drives the
    incremental-moments job — appended matrix chunks update the
    covariance state to exactly the batch moments of the grown
    store."""
    import numpy as np

    from zappy_spark.frame import ZappyFrame
    from zappy_spark.operators.linalg import moments
    from zappy_spark.sources.zarrlite import (
        append_zarrlite,
        read_zarrlite,
        read_zarrlite_stream,
    )

    store = str(tmp_path / "store")
    state = str(tmp_path / "mstate")
    rng = np.random.default_rng(5)
    a = rng.normal(size=(20, 6))
    ZappyFrame.from_ndarray(spark, a).to_zarrlite(store, chunk_rows=7)

    def drain():
        q = jobs.incremental_moments(
            read_zarrlite_stream(spark, store), "vec", state
        )
        q.processAllAvailable(); q.stop()

    drain()
    append_zarrlite(store, rng.normal(size=(8, 6)))
    drain()

    n_s, mu_s, cov_s = jobs.merged_moments(spark, state)
    n_b, mu_b, cov_b = moments(read_zarrlite(spark, store), "vec")
    assert n_s == n_b == 28
    assert np.allclose(mu_s, mu_b) and np.allclose(cov_s, cov_b)


def test_streaming_scd2_equals_batch_chain(spark, tmp_path):
    """A change stream drained through streaming_scd2 produces the
    same history the batch scd2_apply chain produces for the same
    batches (shard order = time order here)."""
    import datetime

    from zappy_spark.operators.pipeline import scd2_apply

    d1, d2 = datetime.date(2024, 2, 1), datetime.date(2024, 3, 1)
    changes = spark.createDataFrame(
        [(1, "a", datetime.date(2024, 1, 1)), (2, "b", datetime.date(2024, 1, 1)),
         (1, "a2", d1),
         (1, "a3", d2), (2, "b2", d2)],
        "k int, attr string, ts date",
    )
    replay = str(tmp_path / "chg_replay")
    # one explicit file per change-date, lexicographic name == time
    # order, so each micro-batch carries exactly one date
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(replay)
    for i, day in enumerate(
        [datetime.date(2024, 1, 1), d1, d2]
    ):
        pdf = changes.filter(F.col("ts") == day).toPandas()
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(replay, f"chg-{i}.parquet"),
        )

    hist_path = str(tmp_path / "scd2")
    schema = spark.read.parquet(replay).schema
    q = jobs.streaming_scd2(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay),
        hist_path,
        ["k"],
        "ts",
    )
    q.processAllAvailable(); q.stop()
    got = sorted(
        (r.k, r.attr, r.valid_from, r.valid_to)
        for r in jobs.latest_snapshot(spark, hist_path).collect()
    )

    # batch chain over the same time-ordered batches
    empty = spark.createDataFrame(
        [], "k int, attr string, valid_from date, valid_to date"
    )
    h = empty
    for day in [datetime.date(2024, 1, 1), d1, d2]:
        b = changes.filter(F.col("ts") == day)
        h = scd2_apply(h, b, ["k"], "ts")
    want = sorted(
        (r.k, r.attr, r.valid_from, r.valid_to) for r in h.collect()
    )
    assert got == want
    assert sum(1 for r in got if r[3] is None) == 2  # one current per key


def test_streaming_weighted_sample_equals_batch(spark, tmp_path):
    """The streamed A-ES reservoir equals the batch weighted sample
    over everything seen — merge-exactness that random reservoirs
    cannot promise."""
    from zappy_spark.operators.sampling import weighted_sample_exact

    docs = load_table(spark, SF_SMOKE_DIR, "documents").withColumn(
        "wt", F.length("text").cast("double")
    )
    replay = str(tmp_path / "docs_replay")
    docs.repartitionByRange(3, "doc_id").write.parquet(replay)

    state = str(tmp_path / "res_state")
    schema = spark.read.parquet(replay).schema
    q = jobs.streaming_weighted_sample(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay),
        state,
        "doc_id",
        "wt",
        15,
    )
    q.processAllAvailable(); q.stop()
    got = sorted(
        r.doc_id for r in jobs.latest_snapshot(spark, state).collect()
    )
    want = sorted(
        r.doc_id
        for r in weighted_sample_exact(docs, "doc_id", "wt", 15).collect()
    )
    assert got == want and len(got) == 15


def test_dynamic_session_stream_equals_batch(spark, replay_dir):
    """Dynamic (per-event-type) gap session windows: the streaming
    merge state machine must agree with the batch plan on the same
    replayed events — the s3 equivalence, but through the Column-gap
    session_window surface."""
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.dynamic_session_counts(stream).select(
            "user_id", F.col("session_window.start").alias("st"), "n"
        ),
        "t_dynsess",
    )
    batch = jobs.dynamic_session_counts(
        spark.read.parquet(replay_dir)
    ).select("user_id", F.col("session_window.start").alias("st"), "n")
    assert _rows(got, "user_id", "st", "n") == _rows(
        batch, "user_id", "st", "n"
    )


def test_rolling_median_stream_equals_batch(spark, replay_dir):
    """The trailing-10 median maintained incrementally (FIFO array
    state) must equal the batch percentile-over-ROWS-frame spelling
    row-for-row once the ordered replay drains — the r80 twin."""
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.rolling_median_stateful(stream), "t_med", output_mode="append"
    )
    from pyspark.sql import Window

    ev = spark.read.parquet(replay_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    batch = ev.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("med10"),
    )
    g = _rows(got, "user_id", "event_id", "value", "med10")
    b = _rows(batch, "user_id", "event_id", "value", "med10")
    assert len(g) == len(b) > 0
    assert g == b


def test_attribution_stream_equals_batch(spark, replay_dir):
    """The per-user click ledger + purchase-time attribution must
    equal the batch RANGE-frame spelling row-for-row once the
    ordered replay drains — the r82 twin (including NULL credit for
    unattributed purchases and (us, id) tie-breaks)."""
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.attribution_stateful(stream), "t_attr", output_mode="append"
    )
    from pyspark.sql import Window

    day7 = 7 * 24 * 3600 * 1_000_000
    ev = spark.read.parquet(replay_dir).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    click = F.when(
        F.col("event_type") == "click", F.struct("us", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("us").rangeBetween(-day7, -1)
    batch = (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.min(click).over(w).alias("_fc"),
            F.max(click).over(w).alias("_lc"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.col("_fc.event_id").alias("first_click"),
            F.col("_lc.event_id").alias("last_click"),
        )
    )
    g = _rows(got, "user_id", "event_id", "first_click", "last_click")
    b = _rows(batch, "user_id", "event_id", "first_click", "last_click")
    assert len(g) == len(b) > 0
    assert g == b


def test_concurrency_stream_equals_batch(spark, replay_dir):
    """The active-interval ledger's drained running max per
    event_type must equal the batch ±1 marker sweep's
    max_concurrent — the r83 twin (half-open semantics: pending
    ends retire before a start at the same microsecond)."""
    from pyspark.sql import Window

    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.concurrency_stateful(stream), "t_conc", output_mode="append"
    )
    final = (
        got.groupBy("event_type")
        .agg(F.max("max_so_far").alias("max_concurrent"))
    )
    ev = spark.read.parquet(replay_dir)
    iv = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + (F.floor("value").cast("bigint") % 60 + 1) * 60_000_000
        ).alias("e"),
    )
    m = iv.select(
        "event_type", "event_id", F.col("s").alias("tm"), F.lit(1).alias("d")
    ).unionAll(
        iv.select(
            "event_type", "event_id", F.col("e").alias("tm"),
            F.lit(-1).alias("d"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("tm", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    batch = (
        m.withColumn("c", F.sum("d").over(w))
        .groupBy("event_type")
        .agg(F.max("c").alias("max_concurrent"))
    )
    g = _rows(final, "event_type", "max_concurrent")
    b = _rows(batch, "event_type", "max_concurrent")
    assert len(g) == len(b) > 0
    assert g == b


@pytest.mark.slow
def test_cumulative_users_stream_equals_batch(spark, replay_dir):
    """dropDuplicates keep-first per user + per-day count over the
    ordered replay must equal the batch first-seen reduction's
    (day, n_new) pairs — the r84 twin; the cumulative curve is a
    deterministic function of these rows."""
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.cumulative_users_stream(stream), "t_cumu"
    )
    ev = spark.read.parquet(replay_dir)
    batch = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n_new"))
    )
    g = _rows(got, "day", "n_new")
    b = _rows(batch, "day", "n_new")
    assert len(g) == len(b) > 0
    assert g == b


def test_incremental_rfm_state_equals_batch(spark, tmp_path):
    """VERDICT r5 item 8: the orders changelog drained through
    incremental_rfm_state, then ranked by rfm_segments_from_state,
    must equal the batch r89 grid on the same orders — the state
    maintenance (mergeable max/count/sum per customer) is what's
    under test; the grid runs through the shared rfm_grid path."""
    from zappy_spark.queries.relational import QUERIES as RQ

    replay = str(tmp_path / "orders_replay")
    jobs.replay_orders_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "rfm_state")
    stream = jobs.stream_events(spark, replay)  # generic file stream
    q = jobs.incremental_rfm_state(stream, state)
    q.processAllAvailable()
    q.stop()
    got = jobs.rfm_segments_from_state(spark, state)
    batch = RQ["r89_rfm_segments"](spark, SF_SMOKE_DIR)
    cols = (
        "r_score", "f_score", "m_score", "n_customers", "sum_monetary"
    )
    assert _rows(got, *cols) == _rows(batch, *cols)
    # merge algebra is batch-size invariant: a 2-file replay of the
    # same orders converges to the same state
    replay2 = str(tmp_path / "orders_replay2")
    jobs.replay_orders_dir(spark, SF_SMOKE_DIR, replay2, n_files=2)
    state2 = str(tmp_path / "rfm_state2")
    q2 = jobs.incremental_rfm_state(
        jobs.stream_events(spark, replay2), state2
    )
    q2.processAllAvailable()
    q2.stop()
    got2 = jobs.rfm_segments_from_state(spark, state2)
    assert _rows(got2, *cols) == _rows(batch, *cols)


def test_cusum_stream_equals_batch(spark, replay_dir):
    """The four-integer CUSUM state folded incrementally must equal
    the batch prefix-sum closed form (the s20 twin). Both sides are
    exact BIGINT arithmetic, so equality is exact, not approximate;
    update-mode emissions are monotone per key, so the drained
    maximum IS the final state."""
    stream = jobs.stream_events(spark, replay_dir)
    got = jobs.run_to_memory(
        jobs.cusum_stateful(stream), "t_cusum", output_mode="update"
    )
    g = got.groupBy("user_id").agg(
        F.max("max_cusum").alias("max_cusum"),
        F.max("n_alarms").alias("n_alarms"),
    )
    from pyspark.sql import Window

    ev = spark.read.parquet(replay_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.round(F.col("value") * 100).cast("bigint") - F.lit(5500)
        ).alias("dx"),
    )
    p = base.select(
        "user_id", "ts", "event_id", F.sum("dx").over(w).alias("ps")
    )
    c = p.select(
        "user_id",
        (
            F.col("ps")
            - F.least(F.min("ps").over(w), F.lit(0).cast("bigint"))
        ).alias("cusum"),
    )
    b = c.groupBy("user_id").agg(
        F.max("cusum").alias("max_cusum"),
        F.sum(F.when(F.col("cusum") >= 20000, 1).otherwise(0)).alias(
            "n_alarms"
        ),
    )
    gr = _rows(g, "user_id", "max_cusum", "n_alarms")
    br = _rows(b, "user_id", "max_cusum", "n_alarms")
    assert len(gr) == len(br) > 0
    assert gr == br


def test_rfm_apply_batch_replay_is_idempotent(spark, tmp_path):
    """At-least-once redelivery guard (round-7 ADVICE): re-applying
    an already-committed batch_id must be a no-op — the RFM merge is
    additive (sum/count), so without the guard a replay landing
    after the _LATEST swap double-counts freq/mon."""
    orders = load_table(spark, SF_SMOKE_DIR, "orders").limit(200)
    state = str(tmp_path / "rfm_guard")
    jobs.rfm_apply_batch(orders, 0, state)
    first = sorted(
        (r["o_custkey"], r["freq"], str(r["mon"]))
        for r in jobs.latest_snapshot(spark, state).collect()
    )
    assert jobs.applied_revision(state) == 0
    # replay of batch 0 after the pointer swap: must be skipped
    jobs.rfm_apply_batch(orders, 0, state)
    again = sorted(
        (r["o_custkey"], r["freq"], str(r["mon"]))
        for r in jobs.latest_snapshot(spark, state).collect()
    )
    assert again == first
    # a NEW batch id still applies (the guard is not a freeze)
    jobs.rfm_apply_batch(orders, 1, state)
    assert jobs.applied_revision(state) == 1
    doubled = {
        r["o_custkey"]: r["freq"]
        for r in jobs.latest_snapshot(spark, state).collect()
    }
    base = {k: f for k, f, _ in first}
    assert all(doubled[k] == 2 * base[k] for k in base)


def test_scd2_apply_batch_replay_is_idempotent(spark, tmp_path):
    """Same guard for the SCD-2 history applier: scd2_apply is
    close-and-append, so a replayed batch would re-close the current
    versions and append duplicates."""
    orders = load_table(spark, SF_SMOKE_DIR, "orders").limit(50)
    chg = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.to_date("o_orderdate").alias("ts"),
    )
    hist = str(tmp_path / "scd2_guard")
    jobs.scd2_apply_batch(chg, 0, hist, ["k"], "ts")
    n1 = jobs.latest_snapshot(spark, hist).count()
    jobs.scd2_apply_batch(chg, 0, hist, ["k"], "ts")
    assert jobs.latest_snapshot(spark, hist).count() == n1


def test_lsh_max_bucket_rejects_unknown_string(spark):
    """round-7 ADVICE: a typo like 'Auto' must raise a clear
    ValueError up front, not an opaque cast error deep in the
    plan."""
    import pytest as _pytest

    from zappy_spark.operators.dedup import lsh_candidate_pairs

    sig = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 4])], ["doc_id", "sig"]
    )
    with _pytest.raises(ValueError, match="max_bucket"):
        lsh_candidate_pairs(sig, "doc_id", bands=2, rows=2, max_bucket="Auto")


def test_incremental_novelty_equals_batch(spark, tmp_path):
    """VERDICT r6 item 7: the documents changelog drained through
    incremental_novelty_state must equal the batch t29 rows exactly
    — min(struct(doc_id, source)) is order-free and every count is
    an exact integer, so equality is exact, not approximate."""
    from zappy_spark.queries.pipeline_ops import QUERIES as PQ

    replay = str(tmp_path / "docs_replay")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "novelty_state")
    q = jobs.incremental_novelty_state(
        jobs.stream_events(spark, replay), state
    )
    q.processAllAvailable()
    q.stop()
    got = _rows(
        jobs.novelty_from_state(spark, state),
        "source", "n_grams", "n_novel", "novelty_rate",
    )
    batch = _rows(
        PQ["t29_ngram_novelty"](spark, SF_SMOKE_DIR),
        "source", "n_grams", "n_novel", "novelty_rate",
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    # replay guard: re-applying the last batch id is a no-op
    docs = load_table(spark, SF_SMOKE_DIR, "documents").limit(10)
    rev = jobs.applied_revision(state)
    jobs.novelty_apply_batch(docs, rev, state)
    assert _rows(
        jobs.novelty_from_state(spark, state),
        "source", "n_grams", "n_novel", "novelty_rate",
    ) == got


def test_incremental_centroid_drift_equals_batch(spark, tmp_path):
    """The embeddings changelog drained through
    incremental_centroid_state must reproduce the batch v25 cosine
    per label (approximate: sum/count merges reorder double
    accumulation vs AVG, so compare to 1e-9, well inside the 6dp
    rounding)."""
    from zappy_spark.queries.pipeline_ops import QUERIES as PQ

    replay = str(tmp_path / "emb_replay")
    jobs.replay_embeddings_dir(spark, SF_SMOKE_DIR, replay, n_files=3)
    state = str(tmp_path / "centroid_state")
    q = jobs.incremental_centroid_state(
        jobs.stream_events(spark, replay), state
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["label"]: r["centroid_cos"]
        for r in jobs.centroid_drift_from_state(spark, state).collect()
    }
    batch = {
        r["label"]: r["centroid_cos"]
        for r in PQ["v25_centroid_drift"](spark, SF_SMOKE_DIR).collect()
    }
    assert set(got) == set(batch) and len(got) > 0
    for k in batch:
        assert abs(got[k] - batch[k]) < 1e-9


def test_incremental_alignment_equals_batch(spark, tmp_path):
    """VERDICT r7 item 8: the documents changelog drained through
    incremental_alignment_state must equal the batch d41 rows
    exactly — the state is a mergeable distinct token set, and the
    report replays the unchanged batch scoring over it (anchors and
    df ranks derive at read time, so order cannot matter)."""
    from zappy_spark.queries.pipeline_ops import QUERIES as PQ

    replay = str(tmp_path / "docs_replay_align")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "align_state")
    q = jobs.incremental_alignment_state(
        jobs.stream_events(spark, replay), state
    )
    q.processAllAvailable()
    q.stop()
    cols = ("doc_id", "lang", "match_id", "inter", "uni")
    got = _rows(jobs.alignment_from_state(spark, state), *cols)
    batch = _rows(PQ["d41_crosslingual_align"](spark, SF_SMOKE_DIR), *cols)
    assert len(got) == len(batch) > 0
    assert got == batch
    # replay guard: re-applying the last batch id is a no-op
    docs = load_table(spark, SF_SMOKE_DIR, "documents").limit(10)
    rev = jobs.applied_revision(state)
    jobs.alignment_apply_batch(docs, rev, state)
    assert _rows(jobs.alignment_from_state(spark, state), *cols) == got


def test_incremental_stopword_equals_batch(spark, tmp_path):
    """The documents changelog drained through
    incremental_stopword_state must equal the batch t41 rows
    EXACTLY — four integer counters per lang, no tolerance; the
    partial IS the t41 operator, so spelling drift is impossible.
    Replay guard: re-applying the last batch id is a no-op."""
    from zappy_spark.queries.pipeline_ops import QUERIES as PQ

    replay = str(tmp_path / "docs_replay_stop")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "stop_state")
    q = jobs.incremental_stopword_state(
        jobs.stream_events(spark, replay), state
    )
    q.processAllAvailable()
    q.stop()
    cols = ("lang", "n_docs", "n_tokens", "n_stop_tokens",
            "n_low_coverage_docs")
    got = _rows(jobs.stopword_from_state(spark, state), *cols)
    batch = _rows(PQ["t41_stopword_coverage"](spark, SF_SMOKE_DIR), *cols)
    assert len(got) == len(batch) > 0
    assert got == batch
    docs = load_table(spark, SF_SMOKE_DIR, "documents").limit(10)
    rev = jobs.applied_revision(state)
    jobs.stopword_apply_batch(docs, rev, state)
    assert _rows(jobs.stopword_from_state(spark, state), *cols) == got


def test_incremental_kappa_equals_batch(spark, tmp_path):
    """The documents changelog drained through
    incremental_kappa_state must equal the batch t35 rows EXACTLY —
    the state is eight integer counters per lang, so no tolerance.
    Replay guard: re-applying the last batch id is a no-op."""
    from zappy_spark.queries.pipeline_ops import QUERIES as PQ

    replay = str(tmp_path / "docs_replay_kappa")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "kappa_state")
    q = jobs.incremental_kappa_state(
        jobs.stream_events(spark, replay), state
    )
    q.processAllAvailable()
    q.stop()
    cols = ("lang", "n", "n_agree", "kappa_num", "kappa_den")
    got = _rows(jobs.kappa_from_state(spark, state), *cols)
    batch = _rows(PQ["t35_kappa_agreement"](spark, SF_SMOKE_DIR), *cols)
    assert len(got) == len(batch) > 0
    assert got == batch
    docs = load_table(spark, SF_SMOKE_DIR, "documents").limit(10)
    rev = jobs.applied_revision(state)
    jobs.kappa_apply_batch(docs, rev, state)
    assert _rows(jobs.kappa_from_state(spark, state), *cols) == got


def test_incremental_filter_ledger_equals_batch(spark, tmp_path):
    """Round 10: the documents changelog drained through
    incremental_filter_state (v29's trained-filter keep/drop ledger
    at FIXED weights) must equal the batch scoring pass EXACTLY —
    four integer counters per source, no tolerance; the micro-batch
    partial IS logreg_score_ledger(weights=...), so batch/stream
    spelling drift is impossible. Replay guard: re-applying the
    last batch id is a no-op."""
    from zappy_spark.operators.training import (
        logreg_features,
        logreg_fit_weights,
        logreg_score_ledger,
    )

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    w = logreg_fit_weights(logreg_features(docs, "text"))[-1]

    replay = str(tmp_path / "docs_replay_filter")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "filter_state")
    q = jobs.incremental_filter_state(
        jobs.stream_events(spark, replay), state, w
    )
    q.processAllAvailable()
    q.stop()
    cols = ("source", "n_docs", "n_keep", "chars_total", "chars_kept")
    got = _rows(jobs.filter_from_state(spark, state), *cols)
    batch = _rows(
        logreg_score_ledger(
            docs, "text", "source", "n_chars", weights=w
        ).orderBy("source"),
        *cols,
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    rev = jobs.applied_revision(state)
    jobs.filter_ledger_apply_batch(docs.limit(10), rev, state, w)
    assert _rows(jobs.filter_from_state(spark, state), *cols) == got


def test_incremental_piece_usage_equals_batch(spark, tmp_path):
    """Round 11: the documents changelog drained through
    incremental_piece_usage_state (t47's apply side at a FIXED
    trained piece table) must equal the batch usage ledger EXACTLY
    — one integer counter per (source, piece), no tolerance; the
    micro-batch partial IS unigram_usage_ledger(costs=...), so
    batch/stream spelling drift is impossible. Replay guard:
    re-applying the last batch id is a no-op."""
    from zappy_spark.operators.text import (
        unigram_train_costs,
        unigram_usage_ledger,
    )

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    costs = unigram_train_costs(
        docs, "text", n_iter=2, max_piece_len=3, n_pieces=30
    )
    assert costs  # trained on real fixture text

    replay = str(tmp_path / "docs_replay_pieces")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "piece_state")
    q = jobs.incremental_piece_usage_state(
        jobs.stream_events(spark, replay), state, costs
    )
    q.processAllAvailable()
    q.stop()
    cols = ("source", "piece", "n_used")
    got = _rows(jobs.piece_usage_from_state(spark, state), *cols)
    batch = _rows(
        unigram_usage_ledger(docs, "text", "source", costs).orderBy(
            "source", "piece"
        ),
        *cols,
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    rev = jobs.applied_revision(state)
    jobs.piece_usage_apply_batch(docs.limit(10), rev, state, costs)
    assert _rows(jobs.piece_usage_from_state(spark, state), *cols) == got


def test_incremental_absdisc_ledger_equals_batch(spark, tmp_path):
    """Round 12: the documents changelog drained through
    incremental_absdisc_state (t48's deploy side at a FIXED stored
    two-table discounted model) must equal the batch fixed-model
    ledger EXACTLY — four integer counters per source, no
    tolerance; the micro-batch partial IS
    absdisc_ledger_with_model, so batch/stream spelling drift is
    impossible. Replay guard: re-applying the last batch id is a
    no-op."""
    from zappy_spark.operators.text import (
        T48_PARAMS,
        absdisc_fit_model,
        absdisc_ledger_with_model,
    )

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    model_path = str(tmp_path / "absdisc_model")
    absdisc_fit_model(
        docs, "text", "doc_id", ref_frac=T48_PARAMS["ref_frac"]
    ).write.parquet(model_path)

    replay = str(tmp_path / "docs_replay_absdisc")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "absdisc_state")
    q = jobs.incremental_absdisc_state(
        jobs.stream_events(spark, replay), state, model_path,
        ppl_cutoff=T48_PARAMS["ppl_cutoff"],
    )
    q.processAllAvailable()
    q.stop()
    cols = ("source", "n_docs", "n_short", "n_keep", "n_drop")
    got = _rows(jobs.absdisc_from_state(spark, state), *cols)
    batch = _rows(
        absdisc_ledger_with_model(
            docs, "text", "doc_id", "source",
            spark.read.parquet(model_path),
            ppl_cutoff=T48_PARAMS["ppl_cutoff"],
        ),
        *cols,
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    rev = jobs.applied_revision(state)
    jobs.absdisc_ledger_apply_batch(
        docs.limit(10), rev, state, model_path
    )
    assert _rows(jobs.absdisc_from_state(spark, state), *cols) == got


def test_incremental_kn_ledger_equals_batch(spark, tmp_path):
    """Round 12: the documents changelog drained through
    incremental_kn_state (t49's deploy side at the SAME stored
    artifact the absdisc twin uses) must equal the batch
    fixed-model KN ledger EXACTLY; replay guard: re-applying the
    last batch id is a no-op."""
    from zappy_spark.operators.text import (
        T49_PARAMS,
        absdisc_fit_model,
        kn_ledger_with_model,
    )

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    model_path = str(tmp_path / "kn_model")
    absdisc_fit_model(
        docs, "text", "doc_id", ref_frac=T49_PARAMS["ref_frac"]
    ).write.parquet(model_path)

    replay = str(tmp_path / "docs_replay_kn")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "kn_state")
    q = jobs.incremental_kn_state(
        jobs.stream_events(spark, replay), state, model_path,
        ppl_cutoff=T49_PARAMS["ppl_cutoff"],
    )
    q.processAllAvailable()
    q.stop()
    cols = ("source", "n_docs", "n_short", "n_keep", "n_drop")
    got = _rows(jobs.kn_from_state(spark, state), *cols)
    batch = _rows(
        kn_ledger_with_model(
            docs, "text", "doc_id", "source",
            spark.read.parquet(model_path),
            ppl_cutoff=T49_PARAMS["ppl_cutoff"],
        ),
        *cols,
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    rev = jobs.applied_revision(state)
    jobs.kn_ledger_apply_batch(
        docs.limit(10), rev, state, model_path
    )
    assert _rows(jobs.kn_from_state(spark, state), *cols) == got


def test_incremental_ppl_ledger_equals_batch(spark, tmp_path):
    """Round 11: the documents changelog drained through
    incremental_ppl_state (t46's deploy side at a FIXED stored
    bigram model) must equal the batch fixed-model ledger EXACTLY —
    four integer counters per source, no tolerance; the micro-batch
    partial IS xcorpus_ledger_with_model, so batch/stream spelling
    drift is impossible. Replay guard: re-applying the last batch
    id is a no-op."""
    from zappy_spark.operators.text import (
        T46_PARAMS,
        xcorpus_fit_model,
        xcorpus_ledger_with_model,
    )

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    model_path = str(tmp_path / "ppl_model")
    xcorpus_fit_model(
        docs, "text", "doc_id", ref_frac=T46_PARAMS["ref_frac"]
    ).write.parquet(model_path)

    replay = str(tmp_path / "docs_replay_ppl")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "ppl_state")
    q = jobs.incremental_ppl_state(
        jobs.stream_events(spark, replay), state, model_path,
        ppl_cutoff=T46_PARAMS["ppl_cutoff"],
    )
    q.processAllAvailable()
    q.stop()
    cols = ("source", "n_docs", "n_short", "n_keep", "n_drop")
    got = _rows(jobs.ppl_from_state(spark, state), *cols)
    batch = _rows(
        xcorpus_ledger_with_model(
            docs, "text", "doc_id", "source",
            spark.read.parquet(model_path),
            ppl_cutoff=T46_PARAMS["ppl_cutoff"],
        ),
        *cols,
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    rev = jobs.applied_revision(state)
    jobs.ppl_ledger_apply_batch(
        docs.limit(10), rev, state, model_path
    )
    assert _rows(jobs.ppl_from_state(spark, state), *cols) == got


def test_incremental_cdc_ledger_equals_batch(spark, tmp_path):
    """Round 12: the documents changelog drained through
    incremental_cdc_state (d52's chunk index at the FIXED (k, mask)
    chunking config) must reproduce the batch dedup ledger EXACTLY
    — four integer columns per source, no tolerance; the micro-
    batch partial IS cdc_chunks, so batch/stream spelling drift is
    impossible. Replay guard: re-applying the last batch id is a
    no-op."""
    from zappy_spark.operators.dedup import cdc_dedup_ledger

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    replay = str(tmp_path / "docs_replay_cdc")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "cdc_state")
    q = jobs.incremental_cdc_state(
        jobs.stream_events(spark, replay), state
    )
    q.processAllAvailable()
    q.stop()
    cols = ("source", "n_chunks", "n_bytes", "dup_chunks", "dup_bytes")
    got = _rows(jobs.cdc_ledger_from_state(spark, state), *cols)
    batch = _rows(
        cdc_dedup_ledger(docs, "text", "doc_id", "source").orderBy(
            "source"
        ),
        *cols,
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    rev = jobs.applied_revision(state)
    jobs.cdc_apply_batch(docs.limit(10), rev, state)
    assert _rows(jobs.cdc_ledger_from_state(spark, state), *cols) == got


def test_incremental_nb_ledger_equals_batch(spark, tmp_path):
    """Round 12: the documents changelog drained through
    incremental_nb_state (v35's deploy side at a FIXED stored
    naive-Bayes model) must equal the batch fixed-model confusion
    ledger EXACTLY — five integer counters per source, no
    tolerance; the micro-batch partial IS nb_eval_with_model, so
    batch/stream spelling drift is impossible. Replay guard:
    re-applying the last batch id is a no-op."""
    from zappy_spark.operators.training import (
        nb_eval_with_model,
        nb_fit_model,
    )

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    model_path = str(tmp_path / "nb_model")
    nb_fit_model(docs, "text", "doc_id", holdout_frac=0.25).write.parquet(
        model_path
    )

    replay = str(tmp_path / "docs_replay_nb")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "nb_state")
    q = jobs.incremental_nb_state(
        jobs.stream_events(spark, replay), state, model_path,
        holdout_frac=0.25,
    )
    q.processAllAvailable()
    q.stop()
    cols = ("source", "n_eval", "tp", "fp", "fn", "tn")
    got = _rows(jobs.nb_from_state(spark, state), *cols)
    batch = _rows(
        nb_eval_with_model(
            docs, "text", "doc_id", "source",
            spark.read.parquet(model_path), holdout_frac=0.25,
        ),
        *cols,
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    rev = jobs.applied_revision(state)
    jobs.nb_ledger_apply_batch(
        docs.limit(10), rev, state, model_path
    )
    assert _rows(jobs.nb_from_state(spark, state), *cols) == got


def test_incremental_auc_hist_equals_batch(spark, tmp_path):
    """Round 12: the documents changelog drained through
    incremental_auc_state (v34's deploy side at FIXED stored
    weights) must yield the SAME exact AUC ledger as the batch
    fixed-weight evaluator — the state is the additive (source, z)
    histogram; the pair counts derive at read time through the
    shared auc_from_hist. Replay guard: re-applying the last batch
    id is a no-op."""
    from zappy_spark.operators.training import (
        auc_eval_with_weights,
        logreg_features,
        logreg_fit_weights,
        logreg_weights_table,
    )
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    ho = _hash_key("doc_id") < sample_threshold(0.25)
    w = logreg_fit_weights(
        logreg_features(docs.filter(~ho), "text").select(
            "y", "x1", "x2", "x3"
        ),
        8,
        2,
    )[-1]
    weights_path = str(tmp_path / "auc_w")
    logreg_weights_table(spark, w).write.parquet(weights_path)

    replay = str(tmp_path / "docs_replay_auc")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "auc_state")
    q = jobs.incremental_auc_state(
        jobs.stream_events(spark, replay), state, weights_path,
        holdout_frac=0.25,
    )
    q.processAllAvailable()
    q.stop()
    cols = (
        "source", "n_pos", "n_neg", "concordant", "tied",
        "auc_num", "auc_den",
    )
    got = _rows(jobs.auc_from_state(spark, state), *cols)
    batch = _rows(
        auc_eval_with_weights(
            docs, "text", "doc_id", "source",
            spark.read.parquet(weights_path), 0.25,
        ),
        *cols,
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    rev = jobs.applied_revision(state)
    jobs.auc_hist_apply_batch(
        docs.limit(10), rev, state, weights_path
    )
    assert _rows(jobs.auc_from_state(spark, state), *cols) == got


def test_incremental_kn3_ledger_equals_batch(spark, tmp_path):
    """Round 12: the documents changelog drained through
    incremental_kn3_state (t53's deploy side at a FIXED stored
    trigram-KN model) must equal the batch fixed-model ledger
    EXACTLY — four integer counters per source, no tolerance; the
    micro-batch partial IS kn3_ledger_with_model. Replay guard:
    re-applying the last batch id is a no-op."""
    from zappy_spark.operators.text import (
        T53_PARAMS,
        kn3_fit_model,
        kn3_ledger_with_model,
    )

    docs = load_table(spark, SF_SMOKE_DIR, "documents")
    model_path = str(tmp_path / "kn3_model")
    kn3_fit_model(
        docs, "text", "doc_id", ref_frac=T53_PARAMS["ref_frac"]
    ).write.parquet(model_path)

    replay = str(tmp_path / "docs_replay_kn3")
    jobs.replay_documents_dir(spark, SF_SMOKE_DIR, replay, n_files=4)
    state = str(tmp_path / "kn3_state")
    q = jobs.incremental_kn3_state(
        jobs.stream_events(spark, replay), state, model_path,
        ppl_cutoff=T53_PARAMS["ppl_cutoff"],
    )
    q.processAllAvailable()
    q.stop()
    cols = ("source", "n_docs", "n_short", "n_keep", "n_drop")
    got = _rows(jobs.kn3_from_state(spark, state), *cols)
    batch = _rows(
        kn3_ledger_with_model(
            docs, "text", "doc_id", "source",
            spark.read.parquet(model_path),
            ppl_cutoff=T53_PARAMS["ppl_cutoff"],
        ),
        *cols,
    )
    assert len(got) == len(batch) > 0
    assert got == batch
    rev = jobs.applied_revision(state)
    jobs.kn3_ledger_apply_batch(
        docs.limit(10), rev, state, model_path
    )
    assert _rows(jobs.kn3_from_state(spark, state), *cols) == got


class _StubStream:
    """Stands in for a streaming DataFrame: records the function and
    options a twin registers on ``writeStream`` without starting a
    query, so a test can call the foreachBatch function directly."""

    def __init__(self):
        self.fn = None
        self.options = {}

    @property
    def writeStream(self):
        return self

    def foreachBatch(self, fn):
        self.fn = fn
        return self

    def outputMode(self, _mode):
        return self

    def option(self, key, value):
        self.options[key] = value
        return self

    def start(self):
        return self


def test_weighted_sample_replay_keeps_reservoir(spark, tmp_path):
    """A redelivered batch 0 must leave the committed reservoir as it
    was. Without the replay guard the overwrite of rev=0 deletes the
    files its own merge is lazily reading: the replay fails and
    leaves ``_LATEST`` pointing at an empty rev=0."""
    import os

    docs = (
        load_table(spark, SF_SMOKE_DIR, "documents")
        .withColumn("wt", F.length("text").cast("double"))
        .orderBy("doc_id")
        .limit(40)
    )
    state = str(tmp_path / "res_replay")
    stub = _StubStream()
    jobs.streaming_weighted_sample(stub, state, "doc_id", "wt", 5)
    stub.fn(docs, 0)
    first = sorted(
        r.doc_id for r in jobs.latest_snapshot(spark, state).collect()
    )
    stub.fn(docs, 0)
    again = sorted(
        r.doc_id for r in jobs.latest_snapshot(spark, state).collect()
    )
    assert again == first and len(set(first)) == 5
    assert jobs.applied_revision(state) == 0
    assert spark.read.parquet(os.path.join(state, "rev=0")).count() == 5


def test_incremental_upsert_replay_is_skipped(spark, tmp_path):
    """The same replay check for the CDC-apply twin. Its max-version
    merge would absorb a replay, so the check is that the replay is
    skipped: rev=0 keeps the files the first apply wrote."""
    import os

    ev = (
        load_table(spark, SF_SMOKE_DIR, "events")
        .select("user_id", "event_type", "value", "event_id")
        .orderBy("event_id")
        .limit(200)
    )
    snap = str(tmp_path / "upsert_replay")
    stub = _StubStream()
    jobs.incremental_upsert(stub, snap, ["user_id", "event_type"], "event_id")
    cols = ("user_id", "event_type", "value", "event_id")
    stub.fn(ev, 0)
    first = _rows(jobs.latest_snapshot(spark, snap), *cols)
    files = sorted(os.listdir(os.path.join(snap, "rev=0")))
    stub.fn(ev, 0)
    assert sorted(os.listdir(os.path.join(snap, "rev=0"))) == files
    assert _rows(jobs.latest_snapshot(spark, snap), *cols) == first
    assert len(first) > 0
    assert jobs.list_revisions(snap) == [0]
    assert jobs.applied_revision(snap) == 0


def test_incremental_hll_replay_is_skipped(spark, tmp_path):
    """The same replay check for the HLL twin, which keeps its sketch
    state in the same rev-dir layout as every other twin."""
    ev = load_table(spark, SF_SMOKE_DIR, "events").orderBy("event_id")
    state = str(tmp_path / "hll_replay")
    stub = _StubStream()
    jobs.incremental_hll(stub, state, lgk=12)
    stub.fn(ev.limit(300), 0)
    first = _rows(jobs.hll_state_estimates(spark, state), "day", "approx_distinct")
    stub.fn(ev.limit(300), 0)
    again = _rows(jobs.hll_state_estimates(spark, state), "day", "approx_distinct")
    assert again == first and len(first) > 0
    assert jobs.applied_revision(state) == 0


def test_incremental_hll_unreadable_state_raises(spark, tmp_path):
    """A committed HLL state that cannot be read must fail the batch
    and keep ``_LATEST`` on the last good revision; it must never be
    mistaken for 'no state yet' and replaced by the new batch alone."""
    import glob

    ev = load_table(spark, SF_SMOKE_DIR, "events")
    state = str(tmp_path / "hll_corrupt")
    stub = _StubStream()
    jobs.incremental_hll(stub, state, lgk=12)
    stub.fn(ev.filter(F.col("event_id") % 2 == 0), 0)
    files = glob.glob(f"{state}/**/*.parquet", recursive=True)
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        stub.fn(ev.filter(F.col("event_id") % 2 == 1), 1)
    assert jobs.applied_revision(state) == 0


def test_snapshot_twins_start_with_state_checkpoint(tmp_path):
    """Every snapshot twin (and the HLL twin) checkpoints its query at
    ``<state_path>_ckpt``."""
    # The replay guard skips batch ids at or below _LATEST. Without a
    # durable checkpoint a restarted query renumbers its batches from
    # 0, and the guard would then skip new data as already applied.
    starters = {
        "hll": lambda s, p: jobs.incremental_hll(s, p),
        "upsert": lambda s, p: jobs.incremental_upsert(s, p, ["k"], "v"),
        "scd2": lambda s, p: jobs.streaming_scd2(s, p, ["k"], "ts"),
        "rfm": jobs.incremental_rfm_state,
        "weighted": lambda s, p: jobs.streaming_weighted_sample(
            s, p, "id", "w", 5
        ),
        "novelty": jobs.incremental_novelty_state,
        "centroid": jobs.incremental_centroid_state,
        "alignment": jobs.incremental_alignment_state,
        "kappa": jobs.incremental_kappa_state,
        "stopword": jobs.incremental_stopword_state,
        "filter": lambda s, p: jobs.incremental_filter_state(s, p, [1, 1]),
        "piece_usage": lambda s, p: jobs.incremental_piece_usage_state(
            s, p, {"a": 1}
        ),
        "ppl": lambda s, p: jobs.incremental_ppl_state(s, p, "m"),
        "absdisc": lambda s, p: jobs.incremental_absdisc_state(s, p, "m"),
        "kn": lambda s, p: jobs.incremental_kn_state(s, p, "m"),
        "cdc": jobs.incremental_cdc_state,
        "nb": lambda s, p: jobs.incremental_nb_state(s, p, "m"),
        "auc": lambda s, p: jobs.incremental_auc_state(s, p, "w"),
        "kn3": lambda s, p: jobs.incremental_kn3_state(s, p, "m"),
    }
    wrong = {}
    for name, start in starters.items():
        stub = _StubStream()
        path = str(tmp_path / name)
        start(stub, path)
        assert stub.fn is not None, name
        got = stub.options.get("checkpointLocation")
        if got != path + "_ckpt":
            wrong[name] = got
    assert wrong == {}
