"""Physical-plan quality gates: the properties SCALE.md claims are
asserted here so perf regressions fail loudly, not silently.

These don't measure time — they pin the plan *shape*: filters reach
the parquet scan, projections prune columns, top-k compiles to
TakeOrderedAndProject, dims broadcast, residual-range joins stay
equi-keyed, bucketed layouts kill the join shuffle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from zappy_spark.queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def corpus_plans(spark):
    """(executed, optimized) plan strings for EVERY declared query,
    compiled once per session. r13 (VERDICT r12 item 2): the two
    corpus-wide plan sweeps each re-built and re-analyzed all 316
    queries (276 s + 133 s — the suite's two slowest tests); one
    compilation pass feeds both, same assertions over the same
    strings."""
    out = {}
    for name, fn in QUERIES.items():
        qe = fn(spark, SF_DIR)._jdf.queryExecution()
        out[name] = (
            qe.executedPlan().toString(),
            qe.optimizedPlan().toString(),
        )
    return out


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(QUERIES["z10_bool_mask"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # the printed filter list truncates; the leading filters suffice
    assert "GreaterThan(l_quantity,45.0)" in plan
    assert "(l_discount#" in plan  # DataFilters carries the full set


def test_column_pruning(spark):
    plan = _plan(QUERIES["r01_pricing_summary"](spark, SF_DIR))
    # R1 needs 6 of lineitem's 11 columns; the scan schema must not
    # contain the unused ones
    assert "l_partkey" not in plan.split("ReadSchema")[1]
    assert "l_comment" not in plan


def test_topk_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(
        QUERIES["b04_global_topk"](spark, SF_DIR)
    )
    assert "TakeOrderedAndProject" in _plan(
        QUERIES["z03_log1p"](spark, SF_DIR)
    )


def test_recursive_spine_join_is_broadcast(spark):
    """r41: the 24-row recursive spine must broadcast against the
    monthly aggregate — a shuffle join keyed on 24 months would be
    all skew at scale."""
    plan = _plan(QUERIES["r41_recursive_cte"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_key_is_expression_only(spark):
    """r42: the Morton key must compile to pure expressions + top-k —
    no Python stage, no exchange beyond TakeOrdered's."""
    plan = _plan(QUERIES["r42_zorder_key"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_dims_broadcast_in_join5(spark):
    plan = _plan(QUERIES["r02_join5_agg"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_join_keyed_not_cartesian(spark):
    plan = _plan(QUERIES["r10_range_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # residual stays attached to the hash join
    assert "l_shipdate" in plan.split("Join")[1][:400]


def test_partial_aggregation_present(spark):
    plan = _plan(QUERIES["r01_pricing_summary"](spark, SF_DIR))
    assert "partial_sum" in plan  # map-side combine before shuffle


def test_semi_anti_join_planned(spark):
    assert "LeftSemi" in _plan(QUERIES["r05_semi_join"](spark, SF_DIR))
    assert "LeftAnti" in _plan(QUERIES["r06_anti_join"](spark, SF_DIR))


def test_whole_stage_codegen_on_hot_path(spark):
    df = QUERIES["r01_pricing_summary"](spark, SF_DIR)
    df.collect()  # AQE finalizes the plan on execution
    # '*(n)' prefixes mark codegen stages in the compact plan string
    assert "*(1)" in _plan(df)
    codegen = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen subtrees" in codegen


def test_no_python_udfs_in_declared_corpus(corpus_plans):
    """Every declared query must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython stages (v02 excepted: its query vector is fetched
    driver-side by design; the scan itself is still JVM). m02 and m03
    were the two deliberate exceptions — they exist to value-check the
    Arrow mapInPandas multimodal plumbing (per-media features and
    per-sampled-frame flatMap) — joined in round 8 by m04 (real GIF
    encode/decode attestation) and d45 (real PNG bytes feeding the
    perceptual-hash kernel): binary codecs are exactly what the
    sanctioned vectorized escape hatch is FOR. Their plans must
    contain that stage (and still no row-at-a-time EvalPython)."""
    arrow_entries = {
        "m02_fake_decode_features",
        "m03_frame_features",
        "m04_gif_attest",
        "m05_wav_attest",
        "d45_phash_neardup",
        # round 9: real PNG (Paeth) encode/decode + patch reshape
        "m06_patch_attest",
        # round 9: real Netpbm P6 + bit-packed P4 encode/decode
        "m07_pnm_attest",
        # round 12: real WAV encode/decode + framed FFT power
        # spectrum + mel filterbank (numpy inside Arrow batches)
        "m08_mel_attest",
        # round 12: the cepstral stage (DCT-II over log-mel) on the
        # same Arrow pipeline
        "m09_mfcc_attest",
        # round 12: HTK delta/delta-delta regressions on the same
        # Arrow pipeline (per-frame FFT + two numpy regressions)
        "m10_delta_cepstra",
        # round 12: every-frame decode via the m03 Arrow flatMap
        # feeding the shot-boundary window
        "m11_shot_boundaries",
    }
    for name, plans in corpus_plans.items():
        if name == "v02_rp_lsh_ann":
            continue
        plan = plans[0]
        assert "EvalPython" not in plan, f"{name} fell off the JVM path"
        if name in arrow_entries:
            assert "MapInPandas" in plan  # the stage under test
        else:
            assert "MapInPandas" not in plan, (
                f"{name} has an undeclared Python stage"
            )


def test_bucketed_layout_eliminates_join_shuffle(spark, tmp_path):
    """SCALE.md's bucketing claim, demonstrated: orders⋈lineitem on
    orderkey with both sides bucketed by the join key has no shuffle
    exchange on either side."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        orders.select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    # AQE would broadcast at this size and mask the point; pin SMJ.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        n = j.count()
        assert n == li.count()  # every lineitem row has its order
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_ann_index_probe_is_partition_pruned(spark, tmp_path):
    """The persisted LSH index: probing must prune to the signature
    partitions — PartitionFilters non-empty, partition count read
    << total partitions."""
    from zappy_spark.operators.similarity import (
        build_ann_index,
        cosine_topk,
        query_ann_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ann_idx")
    build_ann_index(emb, "embedding", "vec_id", path, num_planes=4)

    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = query_ann_index(
        spark, path, qvec, k=10, num_planes=4, probe_radius=2
    )
    plan = _plan(out)
    scan = plan.split("PartitionFilters:")[1]
    assert "sig" in scan[:200], f"no partition filter: {scan[:200]}"
    rows = out.collect()
    assert len(rows) == 10
    # probed result must agree with inline rp_lsh at same params
    exact = [
        r["vec_id"]
        for r in cosine_topk(
            emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec, 10
        ).collect()
    ]
    got = [r["vec_id"] for r in rows if r["vec_id"] != 0]
    assert len(set(got) & set(exact)) >= 5  # measured 0.8 recall inline


def test_near_dup_pairs_persists_grams(spark, tmp_path):
    """The shingle frame feeds three consumers (signature agg + both
    verify-join sides); the plan must read the checkpointed grams, not
    rescan the corpus three times (VERDICT r1 next-5)."""
    from zappy_spark.operators.dedup import near_dup_pairs
    from zappy_spark.queries._util import t

    docs = t(spark, SF_DIR, "documents")
    out = near_dup_pairs(docs, "text", "doc_id", bands=4, num_hashes=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") >= 3, plan[:2000]
    # and the lazy form stays checkpoint-free
    out2 = near_dup_pairs(
        docs, "text", "doc_id", bands=4, num_hashes=16, persist=False
    )
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan2


# Declared naive-window oracle forms whose scale twin is r40 (the
# range-bucketed two-pass operator, operators/ranking.py).
_GLOBAL_WINDOW_WHITELIST = {
    "r26_range_frame",
    "r27_ranking_suite",
    "r34_window_extras",
    # r84: the running sum rides the DAY SPINE (already reduced to
    # one row per calendar day), not the fact table — bounded
    # forever; the fact-table pass is the partitioned first-seen agg.
    "r84_cumulative_users",
    # r89: the three NTILE(5)s rank the per-customer AGGREGATE
    # (|customers| ≪ |orders|; the fact pass is the partitioned
    # groupBy below them — pinned by
    # test_rfm_ntiles_run_on_aggregated_customers). A customer
    # dimension that outgrows one partition switches to
    # operators/ranking.py's bucketed two-pass.
    "r89_rfm_segments",
    # r91: both LAGs ride the MONTH SPINE (one row per calendar
    # month, ≤ a few hundred forever) — the r84 day-spine class;
    # the fact pass is the partitioned monthly hash aggregate.
    "r91_mom_growth",
    # r92: the cumulative share runs over the PART-dimension
    # aggregate (|parts| ≪ |lineitem|; pinned by
    # test_pareto_window_runs_on_part_aggregate). Outgrowing
    # dimensions switch to ranking.py's bucketed two-pass.
    "r92_pareto_abc",
    # t45: the coverage rank runs over the (word, count) VOCABULARY
    # aggregate — Heaps-bounded (~10M rows at 100 TB), never the
    # corpus; ranking.py's bucketed two-pass drops in if a
    # vocabulary ever outgrows one executor.
    "t45_vocab_coverage",
}


def test_no_unpartitioned_windows_outside_whitelist(corpus_plans):
    """A Window.orderBy with no partitionBy is a single-partition sort
    — the one plan shape that cannot survive 100 TB. Ban it corpus-wide
    except the three declared oracle forms (VERDICT r1 next-4).

    Unpartitioned Window nodes print as `Window [exprs], [order]`
    (one `], [` separator and ASC/DESC markers in the second group);
    partitioned ones either carry a partition-spec group (two
    separators) or, when unordered — `sum() over (partition by k)` —
    a single partition group with no ordering markers (r70's total),
    which is parallel and fine."""
    offenders = {}
    for name, plans in corpus_plans.items():
        plan = plans[1]
        bad = [
            ln.strip()
            for ln in plan.splitlines()
            if "Window [" in ln
            and ln.count("], [") == 1
            and (" ASC" in ln.split("], [")[1] or " DESC" in ln.split("], [")[1])
        ]
        if bad and name not in _GLOBAL_WINDOW_WHITELIST:
            offenders[name] = bad[0][:120]
    assert not offenders, offenders


def test_decontaminate_gram_probe_is_broadcast_semi(spark):
    """d10: the benchmark gram set must broadcast into a left-semi
    probe — a shuffled semi join here would move the full corpus
    gram explode at scale."""
    plan = _plan(QUERIES["d10_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_upsert_and_bucket_dedup_have_no_window(spark):
    """r47/s9: the merge/keep-first must be max_by/min_by hash
    aggregates with map-side partials — the row_number window
    spelling would shuffle every loser row."""
    for name in ("r47_upsert_snapshot", "s9_bucket_dedup"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "Window" not in plan, f"{name} uses a window"
        assert "partial_" in plan, f"{name} lost map-side partials"


def test_scalar_threshold_queries_broadcast(spark):
    """r48/r49: the 1-row global scalar joins by broadcast; no
    cartesian product, no shuffle of the per-group side against it."""
    for name in ("r48_q11_shape", "r49_q15_shape"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "Broadcast" in plan, name


def test_boilerplate_persists_gram_frame(spark):
    """t13: the exploded (doc, gram) frame feeds the frequency agg AND
    the hit join — the plan must read the checkpointed frame twice,
    not re-explode the corpus."""
    plan = _plan(QUERIES["t13_boilerplate"](spark, SF_DIR))
    assert plan.count("Scan ExistingRDD") >= 2, plan[:2000]


def test_cdc_dedup_reads_chunk_checkpoint(spark):
    """d52: the CDC chunk frame feeds the occurrence agg AND the
    instance join — the plan must read the checkpointed chunks through
    the query's ``orderBy``, not re-run the chunking chain."""
    plan = _plan(QUERIES["d52_cdc_dedup"](spark, SF_DIR))
    assert plan.count("Scan ExistingRDD") >= 2, plan[:2000]


def test_bucketed_layout_runs_r02_r10_shapes_shuffle_free(spark):
    """VERDICT r3 next-4: SCALE.md claims bucketing orders/lineitem by
    orderkey kills the fact-fact shuffle in the r02 (pre-agg below
    join) and r10 (equi + range residual) shapes. Demonstrate it:
    with both facts bucketed on the join key,
      - the lineitem revenue pre-agg needs NO Exchange (bucketed scan
        already satisfies the groupBy distribution), and
      - the orders⋈lineitem join needs NO Exchange on either side.
    """
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    spark.sql("DROP TABLE IF EXISTS bf_orders")
    spark.sql("DROP TABLE IF EXISTS bf_lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("bf_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("bf_lineitem")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo = spark.table("bf_orders")
        bl = spark.table("bf_lineitem")
        # r02 core: revenue pre-agg below the fact-fact join
        li_rev = bl.groupBy("l_orderkey").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "_rev"
            )
        )
        q2 = bo.join(li_rev, F.col("l_orderkey") == F.col("o_orderkey"))
        p2 = _plan(q2)
        assert "SortMergeJoin" in p2
        assert "Exchange" not in p2, f"r02 shape still shuffles:\n{p2[:1500]}"
        # the agg must also be partial->final without its own exchange
        assert "partial_sum" in p2
        # r10 shape: equi key + range residual on the bucketed sides
        q10 = bo.join(
            bl,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
        )
        p10 = _plan(q10)
        assert "SortMergeJoin" in p10
        assert "Exchange" not in p10, f"r10 shape still shuffles:\n{p10[:1500]}"
        assert "CartesianProduct" not in p10
        # and the results are right: same revenue total as unbucketed
        got = q2.agg(F.round(F.sum("_rev"), 2).alias("s")).first()["s"]
        want = (
            li.groupBy("l_orderkey")
            .agg(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).alias("_rev")
            )
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .agg(F.round(F.sum("_rev"), 2).alias("s"))
            .first()["s"]
        )
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bf_orders")
        spark.sql("DROP TABLE IF EXISTS bf_lineitem")


def test_q6_scan_only_shape(spark):
    """r52: every predicate reaches the parquet scan and the schema
    prunes to the 4 referenced columns — the shape that proves
    pushdown+pruning carry a scan-only query at 100 TB."""
    plan = _plan(QUERIES["r52_q6_scan_only"](spark, SF_DIR))
    assert "GreaterThanOrEqual(l_shipda" in plan
    # the printed PushedFilters list truncates; DataFilters carries
    # the full predicate set
    assert "(l_quantity#" in plan
    sch = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_partkey" not in sch and "l_orderkey" not in sch
    assert plan.count("Exchange ") == 1  # only the 1-row final agg


def test_q19_quantity_envelope_is_pushed(spark):
    """r60: the scan-eligible envelope extracted from the disjunction
    must reach the lineitem scan as a pushed range."""
    plan = _plan(QUERIES["r60_q19_disjunctive"](spark, SF_DIR))
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan


def test_q7_dims_broadcast_no_cartesian(spark):
    """r54: nation/supplier filters ride broadcasts; the only
    non-broadcast join allowed is the lineitem⋈orders fact join."""
    plan = _plan(QUERIES["r54_q7_volume_shipping"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") <= 1


def test_semantic_dedup_join_is_cluster_keyed(spark):
    """d16: the pairwise stage must join on the cluster equi-key —
    a cartesian/BNLJ here is the corpus-wide all-pairs explosion the
    SemDeDup design exists to avoid."""
    plan = _plan(QUERIES["d16_semantic_dedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_classify_broadcasts_queries(spark):
    """v12: the query batch must broadcast (BNLJ on the small side);
    the candidate scan itself must not shuffle before scoring."""
    plan = _plan(QUERIES["v12_knn_classify"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_span_dedup_shuffle_budget(spark):
    """d17: span frequency + join-back + per-doc agg + top-k — the
    whole pipeline fits in 4 exchanges, independent of span width."""
    plan = _plan(QUERIES["d17_span_dedup"](spark, SF_DIR))
    assert plan.count("Exchange ") <= 4


def test_rolling_anomaly_single_shuffle(spark):
    """s12: one hash partition on event_type feeds the sliding
    frame; no self-join, no second exchange."""
    plan = _plan(QUERIES["s12_rolling_anomaly"](spark, SF_DIR))
    assert plan.count("Exchange ") == 1
    assert "Join" not in plan


def test_binned_range_join_is_equi_not_nested_loop(spark):
    """r63: the whole point of the bin rewrite — the join must be a
    hash/sort-merge EQUI join on the bin id, never BNLJ/cartesian."""
    plan = _plan(QUERIES["r63_binned_range_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_pq_codes_zero_shuffles(spark):
    """v13: code assignment is pure scan-side expression work — the
    only allowed exchange is the final orderBy/limit's single
    partition for presentation (which compiles to TakeOrdered)."""
    plan = _plan(QUERIES["v13_pq_codes"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange ") == 0
    assert "Join" not in plan


def test_fingerprint_dedup_single_aggregate(spark):
    """d18: ONE hash aggregate on the 16-byte fingerprint — same
    scale budget as exact dedup."""
    plan = _plan(QUERIES["d18_fingerprint_dedup"](spark, SF_DIR))
    assert plan.count("Exchange ") == 1
    assert "Join" not in plan


def test_bm25_joins_are_broadcast(spark):
    """t18: per-term df and the 1-row corpus stats must broadcast —
    a shuffled join here would repartition the tf frame twice."""
    plan = _plan(QUERIES["t18_bm25"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # query-term filter sits below the tf aggregate's exchange
    assert "Filter" in plan


def test_gap_fill_spine_is_generated_not_joined(spark):
    """r64: the time spine comes from sequence()+explode off the
    per-user bounds — no cartesian against a driver-built calendar."""
    plan = _plan(QUERIES["r64_gap_fill"](spark, SF_DIR))
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_twa_single_user_partitioning(spark):
    """r65: lead() window and the TWA aggregate share the user_id
    hash partitioning — one data shuffle total."""
    plan = _plan(QUERIES["r65_time_weighted_avg"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_window_distinct_is_two_phase(spark):
    """s13: COUNT(DISTINCT) plans as the two-phase expand/partial
    aggregate — never a per-group set collection."""
    plan = _plan(QUERIES["s13_window_distinct"](spark, SF_DIR))
    assert "Expand" in plan or plan.count("HashAggregate") >= 3
    assert "collect_set" not in plan


def test_span_edges_no_cartesian(spark):
    """d19 edge generation: the pair join is keyed on the span hash
    with the df-cap applied BEFORE the self-join."""
    from zappy_spark.operators.dedup import span_edges
    from zappy_spark.session import load_table

    edges = span_edges(
        load_table(spark, SF_DIR, "documents"), "text", "doc_id"
    )
    plan = _plan(edges)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mode_is_aggregate_not_window(spark):
    """r67: the argmax runs as max(struct) over the count frame —
    no window; two hash exchanges (count key, group key) plus only
    the presentation sort's range exchange."""
    plan = _plan(QUERIES["r67_mode"](spark, SF_DIR))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_clip_where_is_scan_only(spark):
    """z26: elementwise clip/where is one projection over the scan."""
    plan = _plan(QUERIES["z26_clip_where"](spark, SF_DIR))
    assert plan.count("Exchange ") == 0
    assert "TakeOrderedAndProject" in plan


def test_adc_scoring_zero_shuffles(spark):
    """v14: LUT decode over PQ codes is scan-side expression work."""
    plan = _plan(QUERIES["v14_adc_scoring"](spark, SF_DIR))
    assert plan.count("Exchange ") == 0
    assert "Join" not in plan


def test_incremental_dedup_degrades_to_shuffled_anti_join(spark):
    """d20: the probe is a LeftAnti join with NO broadcast hint — at
    sf0.01 Catalyst's stats legitimately broadcast the tiny old
    side, but with the size threshold disabled (simulating the
    100 TB accumulated corpus) the same plan must degrade to a
    hash-partitioned sort-merge anti join, proving nothing pins the
    old side driver-side."""
    from zappy_spark.operators.dedup import incremental_new_docs
    from zappy_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    kept = incremental_new_docs(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        "text",
        "doc_id",
        tier="fingerprint",
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = kept._jdf.queryExecution().sparkPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert "LeftAnti" in plan
    assert "Broadcast" not in plan
    assert "SortMergeJoin" in plan


def test_join5_degrades_without_broadcast(spark):
    """r02's fact joins carry no mandatory broadcast: with the size
    threshold disabled (stand-in for 100 TB stats) the plan must
    fall back to shuffled joins — explicit F.broadcast hints remain
    only on the bounded dims (nation/region), and nothing becomes a
    nested-loop/cartesian."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(QUERIES["r02_join5_agg"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the two dim hints survive; the fact joins don't broadcast
    assert plan.count("BroadcastHashJoin") <= 2


def test_variant_pipeline_scan_prunes_and_parses_jvm_side(spark):
    """l11/l01: the VARIANT spelling must stay a 2-column pruned scan
    with the parse inside the JVM aggregate — no Python stage, no
    extra exchange beyond partial→final agg + the tiny sort."""
    for name in ("l11_variant_pipeline", "l01_json_extract"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        rs = plan.split("ReadSchema")[1].split("\n")[0]
        assert "props" in rs and "event_type" in rs
        assert "user_id" not in rs and "value" not in rs, (name, rs)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert plan.count("Exchange") <= 2, (name, plan.count("Exchange"))


def test_scrna_recipe_is_one_narrow_aggregate(spark):
    """z27: filter_cells → normalize_total → log1p must fuse into the
    scan-side projection; only the per-dim stats aggregate (and its
    ordering) may shuffle. Generate-side work is row-local."""
    plan = _plan(QUERIES["z27_scrna_recipe"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # partial→final agg exchange + the orderBy range exchange, max
    assert plan.count("Exchange") <= 2, plan.count("Exchange")
    assert "Generate" in plan  # posexplode feeds the aggregate


def test_analyze_table_feeds_cbo_stats(spark, tmp_path):
    """layout.analyze_table: after ANALYZE, the catalog carries row
    counts and column NDVs, and the optimizer's plan statistics stop
    being file-size guesses — the CBO join-reordering prerequisite
    SURVEY M6 calls for."""
    from zappy_spark.operators.layout import analyze_table
    from zappy_spark.session import load_table

    spark.sql("DROP TABLE IF EXISTS zs_stats_t")
    load_table(spark, "/root/testdata/sf0.001", "nation").write.mode(
        "overwrite"
    ).saveAsTable("zs_stats_t")
    analyze_table(spark, "zs_stats_t", ["n_nationkey", "n_regionkey"])

    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED zs_stats_t").collect()
    }
    assert "Statistics" in desc and "25 rows" in desc["Statistics"]

    col = {
        r.info_name: r.info_value
        for r in spark.sql(
            "DESCRIBE EXTENDED zs_stats_t n_regionkey"
        ).collect()
    }
    assert col["distinct_count"] == "5"

    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        stats = (
            spark.table("zs_stats_t")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert stats.rowCount().get() == 25
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.sql("DROP TABLE IF EXISTS zs_stats_t")


def test_matryoshka_both_passes_are_topk_heaps(spark):
    """v18's coarse shortlist AND final re-rank must compile to
    TakeOrderedAndProject (per-partition heap + bounded driver
    merge) — a Sort node would mean a global sort crept in."""
    plan = _plan(QUERIES["v18_matryoshka_topk"](spark, SF_DIR))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "Exchange" not in plan  # no shuffle anywhere in the query


def test_shelf_packing_window_is_partitioned(spark):
    """d27's cumulative-sum window must be hash-partitioned on
    source — an empty partition spec would serialize the corpus
    through one task."""
    plan = _plan(QUERIES["d27_shelf_packing"](spark, SF_DIR))
    assert "hashpartitioning(source" in plan


def test_leakage_free_split_is_one_aggregate(spark):
    """d26's no-leak guarantee rides the grouping KEY, not a join:
    the plan must contain no Join at all and exactly the aggregate's
    exchanges."""
    plan = _plan(QUERIES["d26_leakage_free_split"](spark, SF_DIR))
    assert "Join" not in plan


def test_temperature_sample_counts_join_is_broadcast(spark):
    """d29's per-source count table is kilobytes at any corpus size;
    joining it back must be a BroadcastHashJoin (the data scan never
    shuffles for it), and the hash-threshold filter must not push a
    Python eval into the plan."""
    plan = _plan(QUERIES["d29_temperature_mixture"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_domain_cap_single_window_on_source(spark):
    """d30 is one ranking window hash-partitioned on source —
    no join, no second shuffle stage beyond the window's own."""
    plan = _plan(QUERIES["d30_domain_cap"](spark, SF_DIR))
    assert "hashpartitioning(source" in plan
    assert "Join" not in plan


def test_winsorize_edges_join_is_broadcast(spark):
    """t22's percentile edges are a |langs|-row frame; the clamp
    join back onto the scan must broadcast them, and the percentile
    window must sort (lang, value) pairs, partitioned by lang."""
    plan = _plan(QUERIES["t22_winsorize"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(lang" in plan


def test_knn_communities_broadcast_and_pruned(spark):
    """v19's 500×500 scoring join must broadcast the 500-row side
    (BroadcastNestedLoopJoin — bounded by construction, never a
    shuffled cartesian of the full table), and the vec_id<500 cap
    must reach both parquet scans. The LPA rounds localCheckpoint
    (lineage cuts are the point), so the gate inspects the
    kNN-graph construction stage — the only part with a data-scale
    plan — built exactly as the v19 builder does."""
    from pyspark.sql import Window
    from zappy_spark.queries._util import cosine, t

    emb = t(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 500)
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
    scored = a.join(F.broadcast(b), F.col("i") != F.col("j")).select(
        "i", "j", F.round(cosine("ea", "eb"), 4).alias("sim")
    )
    w = Window.partitionBy("i").orderBy(F.desc("sim"), "j")
    knn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("i", "j")
    )
    plan = _plan(knn)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "LessThan(vec_id,500)" in plan


def test_rolling_median_single_user_shuffle(spark):
    """r80 is one window hash-partitioned on user_id; the frame is a
    sliding aggregate per partition — no join, no Python stage."""
    plan = _plan(QUERIES["r80_rolling_median"](spark, SF_DIR))
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_interval_overlap_is_keyed_sweep(spark):
    """r83's ±1 sweep is ONE window hash-partitioned on event_type
    over the marker union — no interval×interval self-join, no
    cartesian, no Python stage."""
    plan = _plan(QUERIES["r83_interval_overlap"](spark, SF_DIR))
    assert "hashpartitioning(event_type" in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_fuzzy_blocked_join_is_equi_hash(spark):
    """d33's candidate generation must be an equi-join on the block
    key (hashable — SortMergeJoin/ShuffledHashJoin), never a
    cartesian; the levenshtein verify rides the join filter."""
    plan = _plan(QUERIES["d33_fuzzy_blocked"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "Python" not in plan


def test_dsir_lut_is_broadcast(spark):
    """d32's bucket LUT (≤256 rows) must come back as a broadcast
    hash join — the per-doc re-score never shuffles the gram
    stream against the LUT."""
    plan = _plan(QUERIES["d32_dsir_importance"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_bigram_nll_shuffles_counts_only(spark):
    """t23: text explodes once; every exchange below the final agg
    carries gram/count columns, never the text column."""
    plan = _plan(QUERIES["t23_bigram_nll"](spark, SF_DIR))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # the raw text column must not appear in any exchange output
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_mmr_shortlist_is_topk_heap(spark):
    """v22's distributed phase: the shortlist cut must plan as
    TakeOrderedAndProject (a distributed top-k heap, not a global
    sort), exactly like b04."""
    from zappy_spark.operators.vecmath import cosine
    from zappy_spark.queries._util import t as _t

    emb = _t(spark, SF_DIR, "embeddings")
    qc = F.array(*[F.lit(0.1)] * 64)
    cand = (
        emb.select(
            F.col("vec_id").alias("_id"),
            F.round(cosine(F.col("embedding"), qc), 6).alias("_qsim"),
        )
        .orderBy(F.desc("_qsim"), "_id")
        .limit(20)
    )
    plan = _plan(cand)
    assert "TakeOrderedAndProject" in plan


def test_token_budget_is_one_window(spark):
    """d34: one window hash-partitioned on lang, running-sum frame,
    no join, no Python stage."""
    plan = _plan(QUERIES["d34_token_budget"](spark, SF_DIR))
    assert "hashpartitioning(lang" in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_frame_features_is_single_arrow_stage(spark):
    """m03: exactly one Arrow Python stage (the frame kernel) above
    the scan — the payload visits Python once, and nothing below
    the kernel shuffles."""
    plan = _plan(QUERIES["m03_frame_features"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    assert "Exchange hashpartitioning" not in plan.split("MapInPandas")[1]


def test_sign_hamming_cut_is_topk_heap(spark):
    """v23: the Hamming shortlist must plan as TakeOrderedAndProject
    (distributed integer-keyed heap), and the whole entry stays
    JVM-side."""
    plan = _plan(QUERIES["v23_sign_hamming"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_path_trigrams_single_user_shuffle(spark):
    """s19: one window shuffle on user_id, one count-only aggregate
    on the bounded path vocabulary — no join, no Python."""
    plan = _plan(QUERIES["s19_path_trigrams"](spark, SF_DIR))
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_cumulative_users_is_first_seen_reduction(spark):
    """r84: the fact table is touched by ONE user_id hash aggregate
    (first-seen reduction) — no expanding count-distinct rescans, no
    join, no Python."""
    plan = _plan(QUERIES["r84_cumulative_users"](spark, SF_DIR))
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_bloom_gate_probe_is_scan_side(spark):
    """d35: the probe is scan-side expression work (the filter rides
    as literals) + one count aggregate — no join against the member
    set, no Python."""
    plan = _plan(QUERIES["d35_bloom_gate"](spark, SF_DIR))
    assert "Join" not in plan
    assert "Python" not in plan


def test_source_overlap_dedups_before_join(spark):
    """d36: the gram-key join must sit ABOVE the distinct (source,
    gram) aggregate — dedup before the join, so join input is
    bounded by distinct grams, and the totals side broadcasts."""
    plan = _plan(QUERIES["d36_source_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_bitemporal_filters_reach_scan(spark):
    """r85: both temporal cutoffs must push into the parquet scan
    (history is filtered at the source, never rescanned), and the
    resolution is one window — no join."""
    plan = _plan(QUERIES["r85_bitemporal_asof"](spark, SF_DIR))
    assert "PushedFilters" in plan and "o_orderdate" in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_benford_digit_is_expression_and_broadcast_total(spark):
    """r86: the leading digit is scan-side string/expression work, the
    9-group agg joins its grand total back as a broadcast 1-row
    aggregate (the r19 pattern) — no shuffle join, no Python."""
    plan = _plan(QUERIES["r86_benford_digits"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_welch_ttest_single_pass_no_join(spark):
    """r87: both groups' decimal moments come from ONE conditional
    aggregation over one scan — no join, no window, no Python."""
    plan = _plan(QUERIES["r87_welch_ttest"](spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Python" not in plan


def test_acf_windows_never_touch_raw_events(spark):
    """r88: the fact table collapses to the daily spine via ONE hash
    aggregate; the lag self-join and lag-group agg run on the bounded
    spine. No window over raw events, no cartesian."""
    plan = _plan(QUERIES["r88_acf_daily"](spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_rfm_ntiles_run_on_aggregated_customers(spark):
    """r89: the single-partition NTILEs (whitelisted by design) must
    sit ABOVE the per-customer aggregate — the plan's windows consume
    the groupBy(o_custkey) output, never the raw orders scan."""
    df = QUERIES["r89_rfm_segments"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    w = plan.index("Window")
    agg = plan.rindex("Aggregate")
    assert agg > w, "customer aggregate must be below every window"
    assert "Python" not in plan


def test_basket_lift_dedups_and_broadcasts(spark):
    """r90: DISTINCT (basket, item) precedes the pair self-join; item
    frequencies and the basket total come back as broadcasts; the
    pair join itself is basket-keyed — no cartesian, no Python."""
    plan = _plan(QUERIES["r90_basket_lift"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(l_orderkey" in plan or "l_orderkey" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_prefix_filter_join_is_equi_keyed(spark):
    """d37: every join in the AllPairs pipeline is equi-keyed (prefix
    tokens / doc ids) — no nested-loop pair enumeration anywhere, and
    the per-doc ranking window is doc-partitioned (global gate)."""
    plan = _plan(QUERIES["d37_prefix_jaccard"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_woe_totals_broadcast(spark):
    """t26: one scan, a <=6-group agg, totals back via broadcast —
    no shuffle join, no Python."""
    plan = _plan(QUERIES["t26_woe_iv"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_retrieval_eval_single_scored_pass(spark):
    """v24: the query panel broadcasts onto ONE candidate scan that
    computes both similarities; both rankings are q_id-partitioned
    windows (global gate). No cartesian, no Python."""
    plan = _plan(QUERIES["v24_retrieval_eval"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2  # emb + broadcast q side
    assert "Python" not in plan


def test_argminmax_axis0_is_window_free(spark):
    """z30: the arg-extremes are struct AGGREGATES — one posexplode
    + groupBy(pos) (ncols shuffle keys, partial-agg'd), zero Window
    nodes, no join."""
    plan = _plan(QUERIES["z30_argminmax_axis0"](spark, SF_DIR))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_mom_growth_lags_ride_month_spine(spark):
    """r91: the whitelisted LAG windows consume the monthly
    aggregate, never raw orders — the aggregate sits below every
    window in the optimized plan."""
    df = QUERIES["r91_mom_growth"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.rindex("Aggregate") > plan.index("Window")
    assert "Python" not in plan


def test_pareto_window_runs_on_part_aggregate(spark):
    """r92: ONE fact hash-agg to the part dimension; the cumulative
    window and the broadcast total both ride the aggregate. The
    classification itself is integer expression work — no division
    node feeds the CASE."""
    df = QUERIES["r92_pareto_abc"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.rindex("Aggregate") > plan.index("Window")
    phys = _plan(df)
    assert "CartesianProduct" not in phys
    assert "Python" not in phys


def test_url_dedup_is_single_hash_aggregate(spark):
    """d38: canonicalization is scan-side expression work; the dedup
    is one hash aggregate on the canonical key — no window, no join,
    no Python."""
    plan = _plan(QUERIES["d38_url_canonical"](spark, SF_DIR))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_oov_vocab_probe_is_broadcast(spark):
    """d39: the 100-row vocabulary comes back as a broadcast build
    side (TakeOrdered → BroadcastHashJoin) — the token stream is
    never shuffle-joined by token."""
    plan = _plan(QUERIES["d39_oov_rate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_centroid_drift_is_narrow_aggs(spark):
    """v25: the v11 discipline — posexplode feeds (label, half, pos)
    hash aggs; the centroid join is equi-keyed on (label, pos); no
    window, no cartesian, plan width constant in dim."""
    plan = _plan(QUERIES["v25_centroid_drift"](spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_ngram_novelty_is_pure_hash_aggs(spark):
    """t29: one persisted shingle explode feeds both hash aggs;
    source rides through the explode so there is NO corpus-sized
    join — only the ~|sources|-row rollup merge — no window, no
    Python, and the gram stream is distinct-per-doc BEFORE any
    shuffle-by-gram."""
    plan = _plan(QUERIES["t29_ngram_novelty"](spark, SF_DIR))
    assert "Window" not in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # rollup merge stays broadcast
    assert plan.count("Scan ExistingRDD") >= 2  # explode runs once


def test_cusum_is_one_partitioned_window_pass(spark):
    """s20: both window functions (prefix sum, prefix min) ride the
    SAME (user_id, event_id) sort — exactly one Exchange + one Sort
    for the window stage, partitioned by user (never a global
    window); the top-20 cut is TakeOrderedAndProject."""
    plan = _plan(QUERIES["s20_cusum_drift"](spark, SF_DIR))
    assert "Window" in plan
    assert "Python" not in plan
    assert "TakeOrderedAndProject" in plan
    import re

    sorts = len(re.findall(r"\bSort\b", plan))
    assert sorts <= 3, plan[:3000]


def test_substring_dedup_plan_shape(spark):
    """d40: the islands window must run over the DUPLICATED subset
    only (join before window), the shingle frequency agg must carry
    partial aggregation, and nothing falls back to Python or a
    cartesian product."""
    plan = _plan(QUERIES["d40_substring_dedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan  # map-side combine on the gram agg


def test_crosslingual_align_no_cross_product(spark):
    """d41: the anchor bucket join and the (pid, token) verify join
    must both be equi-joins — a per-pair token cross product would
    be quadratic in doc length."""
    plan = _plan(QUERIES["d41_crosslingual_align"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_direction_bounded_output(spark):
    """d42: distinct (source, gram) BEFORE the gram self-join (the
    t13 lesson) — the plan must aggregate/distinct below the join,
    and never cross-product."""
    plan = _plan(QUERIES["d42_contamination_direction"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 1


def test_rag_chunk_overlap_scan_side_chunking(spark):
    """d43: chunking + shingling are array lambdas (no Python, no
    extra shuffle before the gram agg)."""
    plan = _plan(QUERIES["d43_rag_chunk_overlap"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_freq_spectrum_two_hash_aggs(spark):
    """t30: exactly the gram-count agg + the spectrum agg — no joins,
    no windows, no Python."""
    plan = _plan(QUERIES["t30_freq_spectrum"](spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_sessionized_funnel_reuses_session_key(spark):
    """r93: every stage hashes on (user_id, sid) — the plan must not
    introduce a cartesian product, and the funnel joins stay
    equi-keyed."""
    plan = _plan(QUERIES["r93_sessionized_funnel"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_attestation_bounded_panel(spark):
    """d44: the only non-equi join is the bounded 60-doc pair panel
    (broadcast nested loop over a tiny side is fine BY CONSTRUCTION);
    the gram intersection join must stay equi-keyed and nothing
    falls back to Python."""
    plan = _plan(QUERIES["d44_minhash_containment_est"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the panel filter must reach the documents scan
    assert "LessThan(doc_id,60)" in plan


def test_langid_confusion_single_scan(spark):
    """t31: one documents scan + one hash agg — no joins (the
    classifier is scan-side expressions), no Python."""
    plan = _plan(QUERIES["t31_langid_confusion"](spark, SF_DIR))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_phash_neardup_banded_equi_join(spark):
    """d45: the Hamming candidate join must be a (band, value)
    equi-join — never an all-pairs product — with exactly the one
    sanctioned Arrow stage pair (encode kernel + hash kernel) and
    no row-at-a-time Python."""
    plan = _plan(QUERIES["d45_phash_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_gif_attest_single_arrow_stage(spark):
    """m04: one narrow id column into one Arrow stage; no joins, no
    extra shuffles beyond the final orderBy."""
    plan = _plan(QUERIES["m04_gif_attest"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan


def test_wav_attest_single_arrow_stage(spark):
    """m05: one narrow id column into one Arrow stage (encode +
    decode + framing all inside the same kernel); no joins, no
    extra shuffles beyond the final orderBy."""
    plan = _plan(QUERIES["m05_wav_attest"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan


def test_hard_negatives_broadcast_panel_partial_maxby(spark):
    """v26: the 100-anchor panel must BROADCAST against a single
    corpus scan (BroadcastNestedLoopJoin, bounded by the fixed
    panel — never a shuffled cartesian), the argmax must run as a
    map-side partial max_by (no window over the panel x corpus
    pairs), and no Python stage anywhere (the cosine is the JVM
    fold kernel)."""
    plan = _plan(QUERIES["v26_hard_negatives"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kappa_agreement_single_scan(spark):
    """t35: one documents scan into one hash aggregate with map-side
    partials (both raters are scan-side expressions) — no joins, no
    window, no Python."""
    plan = _plan(QUERIES["t35_kappa_agreement"](spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_epoch_shuffle_no_single_partition_sort(spark):
    """d48: the global shuffle-order assignment must run through the
    range-bucketed two-pass ranker — window partitioned on the
    bucket id, NO SinglePartition exchange anywhere (the one plan
    shape a 100 TB epoch shuffle cannot contain), panel filter after
    ranking, no Python stage."""
    plan = _plan(QUERIES["d48_epoch_shuffle"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "windowspecdefinition(_zs_bucket" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_textrank_iterations_run_off_checkpointed_graph(spark):
    """t52: the K=5 fixed-point iterations must run off the ONE
    materialized vocab-sized graph (localCheckpoint cut), not
    re-derive it from the corpus — the final plan has ZERO parquet
    scans, no cartesian product, and no Python stage; the top-k
    window is group-partitioned."""
    from zappy_spark.operators.text import textrank_keywords

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textrank_keywords(df, "text", "source"))
    assert "Scan parquet" not in plan  # graph is checkpointed
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # the top-k stage is present (its _g partitioning is enforced by
    # the corpus-wide unpartitioned-window gate)
    assert "row_number" in plan
