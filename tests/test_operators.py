"""Property tests for operators whose physical plans aren't
SQL-oracle-able (SURVEY §5.2 items 4/6): LSH recall with planted
duplicates, SimHash locality, ANN recall, lang-id accuracy,
multimodal mapInPandas plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def planted_docs(spark):
    """200 random docs + 10 planted near-duplicate pairs (~90% token
    overlap) + 3 exact duplicate pairs."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(500)]
    docs = []
    for i in range(200):
        words = list(rng.choice(vocab, size=40))
        docs.append((i, " ".join(words)))
    planted = []
    for k in range(10):
        base_id, base_text = docs[k]
        words = base_text.split(" ")
        # mutate ~10% of tokens
        for pos in rng.choice(len(words), size=4, replace=False):
            words[pos] = str(rng.choice(vocab))
        dup_id = 1000 + k
        docs.append((dup_id, " ".join(words)))
        planted.append((base_id, dup_id))
    for k in range(3):
        docs.append((2000 + k, docs[k][1]))  # exact dups
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    return df, planted


def test_exact_dedup_finds_planted(spark, planted_docs):
    from zappy_spark.operators.dedup import drop_exact_dups, exact_dedup

    df, _ = planted_docs
    groups = exact_dedup(df, "text", "doc_id")
    dup_groups = groups.filter(F.col("n") > 1).collect()
    assert len(dup_groups) == 3
    assert all(g["n"] == 2 for g in dup_groups)
    kept = drop_exact_dups(df, "text", "doc_id")
    assert kept.count() == df.count() - 3


def test_minhash_lsh_recall(spark, planted_docs):
    from zappy_spark.operators.dedup import near_dup_pairs

    df, planted = planted_docs
    found = {
        (r["i"], r["j"])
        for r in near_dup_pairs(
            df, "text", "doc_id", threshold=0.5, num_hashes=16, bands=8
        ).collect()
    }
    hits = sum((a, b) in found for a, b in planted)
    # 90% token overlap → shingle Jaccard ≈ 0.7; 8 bands × 2 rows
    # catches nearly all; require ≥ 8/10.
    assert hits >= 8, f"LSH recall too low: {hits}/10, found={found}"
    # precision: no random pair should pass the exact-Jaccard verify
    random_pairs = [
        (i, j) for (i, j) in found if j < 1000 and (i, j) not in planted
    ]
    assert not random_pairs


def test_minhash_lsh_auto_max_bucket(spark, planted_docs):
    """VERDICT r5 item 7: max_bucket="auto" must (a) pick a cap from
    the bucket-size distribution that preserves planted-dup recall —
    genuine fuzzy pairs live in body-sized buckets, far below the
    slack×tail-quantile cap — and (b) actually bind on a planted
    mass-clone flood family, dropping its quadratic buckets."""
    from zappy_spark.operators.dedup import (
        auto_max_bucket,
        lsh_candidate_pairs,
        minhash_signature,
        near_dup_pairs,
    )

    df, planted = planted_docs
    # (a) recall under auto-tuning equals the untuned recall bar
    found = {
        (r["i"], r["j"])
        for r in near_dup_pairs(
            df, "text", "doc_id", threshold=0.5, num_hashes=16,
            bands=8, max_bucket="auto",
        ).collect()
    }
    hits = sum((a, b) in found for a, b in planted)
    assert hits >= 8, f"auto cap broke recall: {hits}/10"
    # (b) flood a single text 500×: its buckets hold ~500 members
    # each; the auto cap (slack × q99.9 of mostly-singleton buckets)
    # must sit orders of magnitude below that and drop them
    flood = df.sparkSession.createDataFrame(
        [(10_000 + i, "flood " * 40) for i in range(500)],
        ["doc_id", "text"],
    )
    flooded = df.union(flood)
    sig = minhash_signature(flooded, "text", "doc_id", 16)
    capped = lsh_candidate_pairs(sig, "doc_id", 8, 2, "auto")
    flood_pairs = capped.filter(
        (F.col("i") >= 10_000) & (F.col("j") >= 10_000)
    )
    assert flood_pairs.count() == 0, "auto cap failed to bind on flood"
    # recall survives alongside the flood
    kept = {(r["i"], r["j"]) for r in capped.collect()}
    hits2 = sum((a, b) in kept for a, b in planted)
    assert hits2 >= 8, f"flood displaced planted pairs: {hits2}/10"
    # the chosen cap itself: sane bounds on this corpus
    banded = sig.select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.array(*[
                F.md5(F.concat_ws("|", F.lit(str(b)),
                                  *[F.element_at("sig", b * 2 + r + 1)
                                    for r in range(2)]))
                for b in range(8)
            ])
        ).alias("bucket"),
    )
    cap = auto_max_bucket(banded)
    assert 32 <= cap < 500, cap


def test_simhash_locality(spark, planted_docs):
    from zappy_spark.operators.dedup import simhash_bits

    df, planted = planted_docs
    sh = {r["doc_id"]: r["sh"] for r in simhash_bits(df, "text", "doc_id").collect()}

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    rng = np.random.default_rng(3)
    dup_d = np.mean([ham(sh[a], sh[b]) for a, b in planted])
    ids = sorted(k for k in sh if k < 1000)
    rand_d = np.mean(
        [ham(sh[a], sh[b]) for a, b in zip(rng.choice(ids, 50), rng.choice(ids, 50)) if a != b]
    )
    assert dup_d < rand_d, f"simhash not locality-sensitive: {dup_d} vs {rand_d}"


def test_rp_lsh_ann_recall(spark):
    from zappy_spark.operators.similarity import cosine_topk, rp_lsh_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    pool = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in cosine_topk(pool, "embedding", "vec_id", qvec, 10).collect()]
    approx = [
        r["vec_id"]
        for r in rp_lsh_topk(
            pool, "embedding", "vec_id", qvec, 10, num_planes=4, probe_radius=2
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    # testdata embeddings are near-random (max pairwise cosine ≈0.51),
    # the hardest case for LSH; multi-probe r=2 measured 0.8 here.
    assert recall >= 0.6, f"ANN recall@10 too low: {recall}"


def test_similarity_join_lsh_vs_exact(spark):
    from zappy_spark.operators.similarity import similarity_join

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    exact = similarity_join(emb, "embedding", "vec_id", 0.3, exact=True).count()
    blocked = similarity_join(
        emb, "embedding", "vec_id", 0.3, num_planes=2
    ).count()
    assert blocked <= exact
    assert blocked >= exact * 0.2, f"LSH blocking recall too low: {blocked}/{exact}"


def test_lang_id_on_real_samples(spark):
    from zappy_spark.operators.text import lang_id

    samples = [
        (1, "the cat sat on the mat and it is happy with that", "en"),
        (2, "der hund ist nicht mit der katze und das ist gut", "de"),
        (3, "el perro y la gata viven en una casa con los gatos", "es"),
        (4, "le chat est dans la maison pour les enfants et une femme", "fr"),
    ]
    df = spark.createDataFrame(samples, ["id", "text", "truth"])
    out = lang_id(df, "text").collect()
    for r in out:
        assert r["lang_pred"] == r["truth"], (r["text"], r["lang_pred"])
        assert r["lang_conf"] > 0


def test_quality_filter(spark):
    from zappy_spark.operators.text import quality_features, quality_filter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    feat = quality_features(docs, "text")
    row = feat.first()
    assert 0 <= row["q_punct_ratio"] <= 1
    assert 0 <= row["q_stopword_ratio"] <= 1
    kept = quality_filter(docs, "text", min_chars=50).count()
    assert 0 < kept <= docs.count()


def test_multimodal_feature_extraction(spark):
    from zappy_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        MEDIA_SCHEMA,
        extract_features,
        frame_sample_plan,
    )

    rows = [
        (1, "image", b"\x00\x01\x02\x03" * 64, (8, 8, None, None, "image/png")),
        (2, "audio", b"\xff\xfe" * 300, (None, None, 16000, None, "audio/wav")),
        (3, "video", b"\x10\x20\x30" * 100, (64, 48, None, 95, "video/mp4")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(df, dim=8)
    assert feats.schema == FEATURE_SCHEMA
    got = {r["media_id"]: r for r in feats.collect()}
    assert got[1]["n_bytes"] == 256
    assert len(got[2]["feature"]) == 8
    assert abs(sum(got[3]["feature"]) - 1.0) < 1e-6  # histogram normalized
    # deterministic fake: same payload → same feature
    again = {r["media_id"]: r for r in extract_features(df, dim=8).collect()}
    assert got[1]["feature"] == again[1]["feature"]

    frames = frame_sample_plan(df, every_n=10)
    idx = [r["frame_idx"] for r in frames.collect()]
    assert idx == list(range(0, 95, 10))


def test_multimodal_resize_contract(spark):
    from zappy_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        RESIZED_SCHEMA,
        resize_images,
    )

    rows = [
        (1, "image", b"\x00\x01\x02\x03" * 64, (8, 8, None, None, "image/png")),
        (2, "audio", b"\xff\xfe" * 300, (None, None, 16000, None, "audio/wav")),
        (3, "image", b"\x10\x20\x30" * 100, (64, 48, None, None, "image/png")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = resize_images(df, height=4, width=6, channels=3)
    assert out.schema == RESIZED_SCHEMA
    got = {r["media_id"]: r for r in out.collect()}
    # non-image rows filtered before the Arrow boundary
    assert set(got) == {1, 3}
    for r in got.values():
        assert len(bytes(r["payload"])) == 4 * 6 * 3
        assert (r["width"], r["height"], r["channels"]) == (6, 4, 3)
    # deterministic kernel: same payload → same buffer
    again = {r["media_id"]: r for r in
             resize_images(df, height=4, width=6).collect()}
    assert bytes(got[1]["payload"]) == bytes(again[1]["payload"])


def test_decode_stub_raises(spark):
    from zappy_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_asof_join_semantics(spark):
    """Edge cases vs hand-computed expectations: backward/forward,
    inclusive bounds, unmatched-dropped, column suffixing."""
    import datetime as dt

    from zappy_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(1, at(0), "a"), (1, at(10), "b"), (2, at(5), "c"), (3, at(1), "d")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, at(0), 100.0), (1, at(7), 200.0), (2, at(6), 300.0)],
        ["k", "ts", "price"],
    )
    back = {
        (r["k"], r["tag"]): (r["ts_right"], r["price"])
        for r in asof_join(left, right, on="ts", by=["k"]).collect()
    }
    # inclusive: left(1,0) matches right(1,0); left(1,10) → right(1,7)
    assert back == {
        (1, "a"): (at(0), 100.0),
        (1, "b"): (at(7), 200.0),
        # k=2: right at 6 > left at 5 → unmatched, dropped; k=3: no right
    }
    fwd = {
        (r["k"], r["tag"]): (r["ts_right"], r["price"])
        for r in asof_join(
            left, right, on="ts", by=["k"], direction="forward"
        ).collect()
    }
    assert fwd == {
        (1, "a"): (at(0), 100.0),   # inclusive ≥
        (2, "c"): (at(6), 300.0),
    }


def test_prepare_corpus_pipeline(spark, planted_docs):
    """End-to-end prep: planted exact and near dups must be gone,
    survivors keep the smaller id, quality floor enforced."""
    from zappy_spark.operators.pipeline import (
        corpus_stats,
        prepare_corpus,
        remove_near_dups,
    )

    df, planted = planted_docs
    # 4 of 40 tokens mutated → shingle Jaccard can be as low as ~0.52;
    # threshold 0.45 + rows=1 banding makes removal deterministic.
    out = prepare_corpus(
        df, min_chars=10, near_dup_threshold=0.45, bands=16
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    # exact dups (2000+k) all dropped, base kept
    assert not any(i >= 2000 for i in ids)
    # near-dup losers (planted j side, higher id) dropped, bases kept
    for a, b in planted:
        assert a in ids and b not in ids, (a, b)
    row = out.first()
    assert row["n_tokens"] == 40
    stats = corpus_stats(df).first()
    assert stats["docs"] == df.count()
    assert stats["distinct_texts"] == df.count() - 3
    # idempotent: running removal again drops nothing
    again = remove_near_dups(out, "text", "doc_id", threshold=0.45, bands=16)
    assert again.count() == out.count()


def test_write_dataset_layout(spark, tmp_path):
    from zappy_spark.operators.pipeline import write_dataset

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = str(tmp_path / "laid_out")
    write_dataset(docs, p, partition_by=["lang"], target_rows_per_file=100)
    back = spark.read.parquet(p)
    assert back.count() == docs.count()
    # hive layout on the pruning key
    import os

    assert any(x.startswith("lang=") for x in os.listdir(p))
    # partition pruning active on the filter
    plan = (
        back.filter(F.col("lang") == "en")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_near_dup_pairs_validates_banding(spark, planted_docs):
    from zappy_spark.operators.dedup import near_dup_pairs

    from zappy_spark.operators.dedup import lsh_candidate_pairs, minhash_signature

    df, _ = planted_docs
    with pytest.raises(ValueError, match="must divide"):
        near_dup_pairs(df, "text", "doc_id", num_hashes=16, bands=5)
    with pytest.raises(ValueError, match="bands must be"):
        near_dup_pairs(df, "text", "doc_id", bands=0)
    # rows<1 guard on the band join itself (degenerate cross join)
    sig = minhash_signature(df.limit(5), "text", "doc_id", num_hashes=4)
    with pytest.raises(ValueError, match="rows per band"):
        lsh_candidate_pairs(sig, "doc_id", bands=4, rows=0)


def test_frame_sample_skips_empty_videos(spark):
    from zappy_spark.operators.multimodal import MEDIA_SCHEMA, frame_sample_plan

    rows = [
        (1, "video", b"x", (None, None, None, 0, "video/mp4")),
        (2, "video", b"y", (None, None, None, 25, "video/mp4")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {(r["media_id"], r["frame_idx"]) for r in frame_sample_plan(df, 10).collect()}
    assert got == {(2, 0), (2, 10), (2, 20)}


@pytest.mark.slow
def test_zorder_write_clusters_both_dims(spark, tmp_path):
    """Z-ordered files must have tight min-max boxes on EVERY
    clustered dimension — the property parquet skipping prunes on.
    A plain sort by x would leave per-file y ranges at full width."""
    import glob

    from zappy_spark.operators.layout import with_zvalue, zorder_write

    df = spark.range(256 * 64).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("bigint").alias("y")
    )
    path = str(tmp_path / "zordered")
    # per-column widths matched to actual cardinality (256 x 64)
    zorder_write(df, path, ["x", "y"], bits=[8, 6], num_files=16)
    # baseline: same write path clustered on x alone
    base = str(tmp_path / "xsorted")
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(base)
    )

    def avg_widths(p):
        wx, wy = [], []
        for f in glob.glob(f"{p}/part-*.parquet"):
            r = spark.read.parquet(f).agg(
                (F.max("x") - F.min("x")).alias("wx"),
                (F.max("y") - F.min("y")).alias("wy"),
            ).collect()[0]
            wx.append(r["wx"])
            wy.append(r["wy"])
        assert len(wx) > 4
        return sum(wx) / len(wx), sum(wy) / len(wy)

    zx, zy = avg_widths(path)
    bx, by = avg_widths(base)
    # x-sort leaves y at full width per file; z-order must keep BOTH
    # dims clustered (range-sampling boundaries make cuts approximate,
    # so compare against the baseline, not the bit-exact ideal)
    assert by > 62  # baseline really is unclustered on y
    assert zy < 0.7 * by
    assert zx < 0.3 * 255  # and x stays tightly clustered too

    # kernel sanity: z-value of (0,0) is 0, interleave is monotone in
    # each dim when the other is fixed
    zv = {  # x, y -> zv
        (r["x"], r["y"]): r["zv"]
        for r in with_zvalue(
            spark.createDataFrame([(0, 0), (1, 0), (0, 1), (3, 5)], "x long, y long"),
            ["x", "y"],
        ).collect()
    }
    assert zv[(0, 0)] == 0 and zv[(1, 0)] == 1 and zv[(0, 1)] == 2
    # (3,5) = x bits 11, y bits 101 -> interleaved y2 x2 y1 x1 y0 x0 = 1 0 0 1 1 1
    assert zv[(3, 5)] == 0b100111


def test_prepare_corpus_output_schema(spark, planted_docs):
    from zappy_spark.operators.pipeline import prepare_corpus

    df, _ = planted_docs
    out = prepare_corpus(df, min_chars=10, near_dup_threshold=0.45, bands=16)
    assert out.columns == df.columns + ["n_tokens"]


def test_connected_components_shapes(spark):
    from zappy_spark.operators.graph import connected_components

    # chain 1-2-3-4, triangle 10-11-12, isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["i", "j"],
    )
    comps = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comps == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


@pytest.mark.slow
def test_connected_components_long_chain_converges(spark):
    from zappy_spark.operators.graph import connected_components

    n = 40  # diameter 40 > default rounds via doubling? propagation is
    # 1 hop/round — use max_iter=n to cover the worst case
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["i", "j"]
    )
    comps = connected_components(edges, max_iter=n + 1)
    assert comps.select(F.countDistinct("component")).first()[0] == 1
    assert comps.filter(F.col("component") != 0).count() == 0


@pytest.mark.slow
def test_drop_cluster_dups_transitive(spark, planted_docs):
    """Transitive case pairwise removal can't express: docs a~b, b~c
    with no (a,c) pair must still collapse to one survivor."""
    from zappy_spark.operators.graph import drop_cluster_dups

    df, _ = planted_docs
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], ["i", "j"])
    kept = drop_cluster_dups(df, pairs, "doc_id")
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 in ids and 1 not in ids and 2 not in ids  # one per chain
    assert 5 in ids and 6 not in ids
    assert 7 in ids  # untouched docs survive


def test_hash_sample_deterministic_and_append_stable(spark):
    from zappy_spark.operators.sampling import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.3).collect()}
    b = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.3).collect()}
    assert a == b  # deterministic
    assert 0.2 < len(a) / 2000 < 0.4  # ~fraction
    # append-stability: sampling a superset keeps the original verdicts
    big = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    sup = {r["doc_id"] for r in hash_sample(big, "doc_id", 0.3).collect()}
    assert a == {x for x in sup if x < 2000}
    # nesting: a smaller fraction is a subset of a larger one
    small = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.1).collect()}
    assert small <= a


def test_stratified_sample_exact_counts(spark):
    from pyspark.sql import functions as F

    from zappy_spark.operators.sampling import stratified_sample_exact

    df = spark.createDataFrame(
        [(i, "big" if i % 10 else "small") for i in range(100)],
        "doc_id bigint, lang string",
    )
    out = stratified_sample_exact(df, "doc_id", "lang", k=7)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"big": 7, "small": 7}
    # k larger than a stratum: whole stratum kept
    tiny = stratified_sample_exact(df, "doc_id", "lang", k=50)
    c2 = {
        r["lang"]: r["n"]
        for r in tiny.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert c2 == {"big": 50, "small": 10}


def test_redact_pii_planted(spark):
    from pyspark.sql import functions as F

    from zappy_spark.operators.text import redact_pii

    rows = [
        ("reach me at a.b+c@sub.example.org today", "reach me at <EMAIL> today"),
        ("see https://x.io/a?b=1 and http://y.z/p", "see <URL> and <URL>"),
        ("no pii here", "no pii here"),
    ]
    df = spark.createDataFrame(rows, "t string, want string")
    bad = df.filter(redact_pii(F.col("t")) != F.col("want")).count()
    assert bad == 0


def test_tfidf_matches_manual(spark):
    import math

    from zappy_spark.operators.text import tf_idf

    docs = [(0, "a b a"), (1, "a c"), (2, "d d d")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"])
        for r in tf_idf(df, "text", "doc_id").collect()
    }
    n = 3

    def idf(dfreq):
        return math.log((n + 1) / (dfreq + 1)) + 1

    assert got[(0, "a")] == (2, 2, 2 * idf(2))
    assert got[(1, "c")] == (1, 1, 1 * idf(1))
    assert got[(2, "d")] == (3, 1, 3 * idf(1))
    assert len(got) == 5  # (0,a),(0,b),(1,a),(1,c),(2,d)


def test_quantize_dequantize_round_trip(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from zappy_spark.operators.similarity import (
        dequantize_int8,
        l2_normalize,
        quantize_int8,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    prepped = df.select(
        "vec_id",
        "embedding",
        quantize_int8("embedding").alias("q"),
        F.array_max(
            F.transform("embedding", lambda v: F.abs(v))
        ).alias("mx"),
    )
    back = prepped.select(
        "vec_id", "embedding", dequantize_int8("q", "mx").alias("deq"), "mx"
    )
    for r in back.collect():
        err = max(
            abs(a - b) for a, b in zip(r["embedding"], r["deq"])
        )
        assert err <= r["mx"] / 254 + 1e-12, (r["vec_id"], err)
    # unit norm after normalization
    nrm = df.select(
        F.aggregate(
            F.transform(l2_normalize("embedding"), lambda v: v * v),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("s")
    ).collect()
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in nrm)


@pytest.mark.slow
def test_moments_and_pca_match_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from zappy_spark.operators.linalg import moments, pca_fit, pca_transform

    rng = np.random.default_rng(7)
    # correlated data so PCA has a meaningful answer
    base = rng.normal(size=(300, 3))
    X = np.column_stack(
        [base[:, 0], base[:, 0] * 2 + base[:, 1] * 0.1, base[:, 2]]
    )
    rows = [(i, [float(v) for v in X[i]]) for i in range(300)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).repartition(5)  # partial-combine across several partitions

    n, mu, cov = moments(df, "embedding")
    assert n == 300
    assert np.allclose(mu, X.mean(axis=0), atol=1e-9)
    assert np.allclose(cov, np.cov(X, rowvar=False, ddof=1), atol=1e-9)

    comps, ev, mean = pca_fit(df, "embedding", k=2)
    w, v = np.linalg.eigh(np.cov(X, rowvar=False, ddof=1))
    order = np.argsort(w)[::-1][:2]
    want = v[:, order].T
    sg = np.sign(want[np.arange(2), np.abs(want).argmax(axis=1)])
    want = want * sg[:, None]
    assert np.allclose(ev, w[order], atol=1e-9)
    assert np.allclose(comps, want, atol=1e-7)

    got = (
        pca_transform(df, "embedding", "vec_id", k=2)
        .orderBy("vec_id")
        .collect()
    )
    scores = (X - X.mean(axis=0)) @ want.T
    for r in got:
        i = r["vec_id"]
        assert abs(r["pc0"] - scores[i, 0]) < 1e-7
        assert abs(r["pc1"] - scores[i, 1]) < 1e-7
    # projection pass is pure JVM: no Python eval in its plan
    plan = (
        pca_transform(df, "embedding", "vec_id", k=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan


@pytest.mark.slow
def test_moments_empty_frame_raises(spark):
    import pytest as _pytest

    from zappy_spark.operators.linalg import moments

    df = spark.createDataFrame([], "embedding array<double>")
    with _pytest.raises(ValueError):
        moments(df, "embedding")


@pytest.mark.slow
def test_salted_join_equals_plain_join_on_skewed_data(spark):
    from pyspark.sql import functions as F

    from zappy_spark.operators.joins import salted_join

    # 90% of left rows share one key — the straggler shape
    left = spark.createDataFrame(
        [(0 if i % 10 else i % 7 + 1, i) for i in range(2000)],
        "k bigint, payload bigint",
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(8)], "k bigint, name string"
    )
    for how in ("inner", "left"):
        got = salted_join(left, right, "k", salt=8, how=how)
        want = left.join(right, "k", how)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    # the salted plan spreads the hot key: join key includes the salt
    plan = salted_join(left, right, "k", salt=8)._jdf.queryExecution()
    assert "_zs_salt" in plan.optimizedPlan().toString()


@pytest.mark.slow
def test_skew_guarded_join_picks_strategy_and_matches(spark):
    """skew_guarded_join: balanced keys → plain plan (no salt
    column); pathological keys → salted plan; results identical to
    the plain join either way."""
    from pyspark.sql import functions as F

    from zappy_spark.operators.joins import skew_guarded_join

    # 90% of rows on one key, hot key above the row floor → salted
    left = spark.createDataFrame(
        [(0 if i % 10 else i % 7 + 1, i) for i in range(3000)],
        "k bigint, payload bigint",
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(8)], "k bigint, name string"
    )
    got = skew_guarded_join(left, right, "k", min_hot_rows=1000)
    want = left.join(right, "k")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "_zs_salt" in plan, "hot key should have triggered salting"
    # balanced keys → the guard stays out of the way
    bal = spark.createDataFrame(
        [(i % 8, i) for i in range(3000)], "k bigint, payload bigint"
    )
    got2 = skew_guarded_join(bal, right, "k", min_hot_rows=1000)
    plan2 = got2._jdf.queryExecution().optimizedPlan().toString()
    assert "_zs_salt" not in plan2, "balanced key must not salt"
    assert got2.count() == bal.join(right, "k").count()


def test_skew_diagnostics(spark):
    from zappy_spark.operators.diagnostics import (
        key_skew_report,
        partition_sizes,
        shuffle_balance,
    )

    # planted skew: key 0 carries half the rows
    df = spark.range(10_000).select(
        F.when(F.col("id") < 5_000, 0).otherwise(F.col("id")).alias("k")
    )
    rep = key_skew_report(df, "k", top=3)
    assert rep["rows"] == 10_000
    assert rep["distinct_keys"] == 5_001
    assert rep["max_key_rows"] == 5_000
    assert rep["top_keys"][0] == (0, 5_000)
    assert rep["skew_ratio"] > 1_000

    ps = partition_sizes(df)
    assert ps.agg(F.sum("rows")).collect()[0][0] == 10_000

    sb = shuffle_balance(df, ["k"], 8).collect()
    assert sum(r["rows"] for r in sb) == 10_000
    # the hot key lands whole in one bucket: max bucket >= 5000
    assert max(r["rows"] for r in sb) >= 5_000


def test_compact_files(spark, tmp_path):
    import glob

    from zappy_spark.operators.layout import compact_files, dataset_bytes

    src = str(tmp_path / "shattered")
    dst = str(tmp_path / "compacted")
    df = spark.range(50_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    df.repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64

    total = dataset_bytes(spark, src)
    target = max(total // 4, 1)
    n = compact_files(spark, src, dst, target_bytes=target, sort_cols=["id"])
    files = glob.glob(f"{dst}/part-*.parquet")
    assert len(files) == n <= 8
    # data survives byte-identical as a set
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dst).orderBy("id").collect()
    assert a == b


def test_grouped_pandas_udaf(spark):
    """Grouped-agg pandas UDAFs vs numpy on the same groups."""
    import numpy as np
    import pandas as pd

    from zappy_spark.operators.udaf import (
        median_abs_deviation,
        trimmed_mean_10,
        winsorized_mean,
    )

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {"g": np.repeat([0, 1, 2], 40), "x": rng.normal(10, 3, 120)}
    )
    # plant outliers that only robust stats shrug off
    pdf.loc[0, "x"] = 1e6
    df = spark.createDataFrame(pdf)
    got = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            trimmed_mean_10("x").alias("tm"),
            median_abs_deviation("x").alias("mad"),
            winsorized_mean(0.05, 0.95)("x").alias("wm"),
        )
        .collect()
    }
    for g, grp in pdf.groupby("g"):
        a = np.sort(grp["x"].to_numpy())
        k = int(0.1 * len(a))
        assert abs(got[g]["tm"] - np.mean(a[k : len(a) - k])) < 1e-9
        med = np.median(a)
        assert abs(got[g]["mad"] - np.median(np.abs(a - med))) < 1e-9
        lo, hi = np.quantile(a, [0.05, 0.95])
        assert abs(got[g]["wm"] - np.mean(np.clip(a, lo, hi))) < 1e-9
    # robustness: the planted 1e6 outlier must not drag group 0
    assert got[0]["tm"] < 100


def test_pack_sequences(spark):
    from zappy_spark.operators.pipeline import pack_sequences

    import numpy as np

    rng = np.random.default_rng(9)
    weights = rng.integers(10, 900, size=500)
    df = spark.createDataFrame(
        [(int(i), int(w)) for i, w in enumerate(weights)], "id long, w long"
    ).repartition(4)
    out = pack_sequences(df, "id", "w", budget=1000).collect()

    # every item packed exactly once
    packed = [i for r in out for i in r["ids"]]
    assert sorted(packed) == list(range(500))
    by_id = {int(i): int(w) for i, w in enumerate(weights)}
    for r in out:
        assert r["total_tokens"] == sum(by_id[i] for i in r["ids"]) <= 1000
    # FFD should waste little: utilization well above naive one-per-bin
    util = sum(r["total_tokens"] for r in out) / (1000 * len(out))
    assert util > 0.7, f"utilization {util}"
    # oversize item refuses
    bad = spark.createDataFrame([(1, 2000)], "id long, w long")
    with pytest.raises(ValueError):
        pack_sequences(bad, "id", "w", budget=1000)


def test_chunk_tokens_invariants(spark):
    """Every token covered in order; consecutive chunks share exactly
    `overlap` tokens; only the last chunk may be short."""
    import numpy as np

    from zappy_spark.operators.text import chunk_tokens

    rng = np.random.default_rng(13)
    max_tokens, overlap = 16, 4
    stride = max_tokens - overlap
    docs = [
        (i, " ".join(f"t{i}_{j}" for j in range(n)))
        for i, n in enumerate(rng.integers(1, 60, size=25))
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = chunk_tokens(df, "text", "doc_id", max_tokens, overlap)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r
    for doc_id, text in docs:
        toks = text.split(" ")
        chunks = [v for _, v in sorted(by_doc[doc_id].items())]
        # reconstruction: chunk i starts at i*stride
        seen = []
        for i, c in enumerate(chunks):
            ct = c["chunk_text"].split(" ")
            assert ct == toks[i * stride : i * stride + max_tokens]
            assert c["n_tokens"] == len(ct)
            if i + 1 < len(chunks):
                nxt = chunks[i + 1]["chunk_text"].split(" ")
                assert ct[-overlap:] == nxt[: len(ct[-overlap:])] or len(ct) == max_tokens
            seen.extend(ct[: stride] if i + 1 < len(chunks) else ct)
        assert seen == toks, f"doc {doc_id} not fully covered"
    with pytest.raises(ValueError):
        chunk_tokens(df, "text", "doc_id", 16, 16)


def test_decontaminate_removes_exactly_overlapping(spark):
    from zappy_spark.operators.dedup import contaminated_ids, decontaminate

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "zz alpha beta gamma yy"),      # shares 3-gram -> dropped
            (2, "alpha beta zz gamma delta"),   # no shared 3-gram -> kept
            (3, "beta gamma delta"),            # shares 3-gram -> dropped
            (4, "totally unrelated words here"),
            (5, "xy"),                          # < 3 words -> kept
        ],
        "doc_id long, text string",
    )
    bad = {
        r["doc_id"]
        for r in contaminated_ids(docs, bench, "text", "doc_id", k=3).collect()
    }
    assert bad == {1, 3}
    kept = {
        r["doc_id"]
        for r in decontaminate(docs, bench, "text", "doc_id", k=3).collect()
    }
    assert kept == {2, 4, 5}


def test_mixture_sample_rates_and_nesting(spark):
    from zappy_spark.operators.sampling import hash_sample, mixture_sample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = mixture_sample(df, "id", "grp", {"a": 0.5}, default=0.05)
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(
        F.count("*").alias("n")).collect()}
    assert abs(counts["a"] - 1000) < 120      # ~0.5 of 2000
    assert abs(counts.get("b", 0) - 100) < 50  # ~0.05 of 2000
    # nesting: every row kept at rate 0.2 is kept at rate 0.5
    low = {r["id"] for r in mixture_sample(
        df, "id", "grp", {"a": 0.2}, default=0.0).collect()}
    high = {r["id"] for r in mixture_sample(
        df, "id", "grp", {"a": 0.5}, default=0.0).collect()}
    assert low <= high
    # group rate == hash_sample rate on the same ids (same hash key)
    ha = {r["id"] for r in hash_sample(
        df.filter(F.col("grp") == "a"), "id", 0.5).collect()}
    assert {r["id"] for r in out.filter(F.col("grp") == "a").collect()} == ha


def test_repetition_features_crafted(spark):
    from zappy_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a a a a"),            # all same word
            (2, "w x y z"),            # all distinct
            (3, "p q p q p q"),        # repeated bigram pattern
            (4, ""),                   # empty
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_features(df, "text").collect()}
    assert out[1]["rep_dup_word_frac"] == 0.75       # 4 words, 1 distinct
    assert out[1]["rep_top_word_frac"] == 1.0
    assert out[1]["rep_dup_3gram_frac"] == 0.5       # 2 grams, 1 distinct
    assert out[2]["rep_dup_word_frac"] == 0.0
    assert out[2]["rep_top_word_frac"] == 0.25
    assert out[2]["rep_dup_3gram_frac"] == 0.0       # 2 distinct grams
    assert out[3]["rep_dup_word_frac"] == round(4 / 6, 6)
    assert out[3]["rep_top_word_frac"] == 0.5
    assert out[4]["rep_dup_word_frac"] == 0.0
    assert out[4]["rep_top_word_frac"] == 0.0


def test_domain_distribution_counts(spark):
    from zappy_spark.operators.text import domain_distribution, url_domains

    df = spark.createDataFrame(
        [
            (1, "see https://a.com/x and https://a.com/y"),   # a twice
            (2, "go http://b.org/z then https://a.com/w ok"),
            (3, "no urls at all"),
        ],
        "doc_id long, text string",
    )
    doms = df.select(url_domains("text").alias("d")).collect()
    assert [r["d"] for r in doms] == [
        ["a.com", "a.com"], ["b.org", "a.com"], []
    ]
    out = {r["domain"]: r for r in domain_distribution(df, "text").collect()}
    assert out["a.com"]["n_docs"] == 2
    assert out["a.com"]["n_mentions"] == 3
    assert out["b.org"]["n_docs"] == 1
    assert out["b.org"]["n_mentions"] == 1


def test_upsert_snapshot_merge_semantics(spark):
    from zappy_spark.operators.pipeline import upsert_snapshot

    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)],
        "k long, val string, v int",
    )
    upd = spark.createDataFrame(
        [(2, "b2", 2), (4, "d", 2), (2, "b3", 3)],  # 2 updated twice
        "k long, val string, v int",
    )
    out = {r["k"]: r for r in upsert_snapshot(base, upd, ["k"], "v").collect()}
    assert len(out) == 4
    assert out[1]["val"] == "a" and out[1]["v"] == 1     # untouched
    assert out[2]["val"] == "b3" and out[2]["v"] == 3    # highest version wins
    assert out[3]["val"] == "c"
    assert out[4]["val"] == "d" and out[4]["v"] == 2     # insert


def test_boilerplate_fraction_crafted(spark):
    from zappy_spark.operators.text import (
        boilerplate_fraction,
        frequent_ngrams,
    )

    df = spark.createDataFrame(
        [
            (1, "common header text plus body one"),
            (2, "common header text plus body two"),
            (3, "common header text here"),
            (4, "entirely different words again ok"),
            (5, "xy"),  # <3 words: no grams
        ],
        "doc_id long, text string",
    )
    freq = {
        r["g"]: r["n_docs"]
        for r in frequent_ngrams(df, "text", "doc_id", 3, 2).collect()
    }
    assert freq["common header text"] == 3
    assert freq["header text plus"] == 2
    assert "entirely different words" not in freq
    out = {
        r["doc_id"]: r
        for r in boilerplate_fraction(
            df, "text", "doc_id", 3, 2, persist=False
        ).collect()
    }
    # doc 1: grams = [common header text, header text plus,
    #   text plus body, plus body one] -> 3 frequent (shared w/ doc 2)
    assert out[1]["n_grams"] == 4 and out[1]["n_freq"] == 3
    assert out[1]["boilerplate_frac"] == 0.75
    assert out[4]["n_freq"] == 0 and out[4]["boilerplate_frac"] == 0.0
    assert out[5]["n_grams"] == 0 and out[5]["boilerplate_frac"] == 0.0


def test_quantile_buckets_balanced_and_ordered(spark):
    from zappy_spark.operators.sampling import quantile_buckets

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id long, x double"
    )
    out = quantile_buckets(df, "x", 4)
    counts = {
        r["bucket"]: r["n"]
        for r in out.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {0, 1, 2, 3}
    assert all(20 <= n <= 30 for n in counts.values())
    # buckets are value-ordered: max of bucket b < min of bucket b+1
    rng = {
        r["bucket"]: (r["mn"], r["mx"])
        for r in out.groupBy("bucket")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    }
    for b in range(3):
        assert rng[b][1] < rng[b + 1][0]
    with pytest.raises(ValueError):
        quantile_buckets(df, "x", 1)


def test_kmeans_recovers_separated_blobs(spark):
    from zappy_spark.operators.similarity import kmeans_assign, kmeans_fit

    rng = np.random.default_rng(7)
    blobs = np.concatenate(
        [rng.normal(c, 0.05, size=(20, 8)) for c in (0.0, 5.0, -5.0)]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(blobs)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = kmeans_fit(df, "vec", "id", k=3, max_iter=10)
    # converged Lloyd's on well-separated blobs == exact blob means
    means = np.array([blobs[i * 20 : (i + 1) * 20].mean(axis=0) for i in range(3)])
    for c in cents:
        assert np.abs(means - c).max(axis=1).min() < 1e-9
    groups = {}
    for r in kmeans_assign(df, "vec", cents).collect():
        groups.setdefault(r["cluster"], set()).add(r["id"] // 20)
    assert sorted(map(len, groups.values())) == [1, 1, 1]  # pure clusters
    with pytest.raises(ValueError):
        kmeans_fit(df, "vec", "id", k=0)
    with pytest.raises(ValueError):
        kmeans_fit(df.limit(2), "vec", "id", k=3)


@pytest.mark.slow
def test_ivf_index_prunes_and_recalls(spark, tmp_path):
    from zappy_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_idx")
    cents = build_ivf_index(emb, "embedding", "vec_id", path, k=8, max_iter=5)
    assert cents.shape == (8, 64)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = query_ivf_index(spark, path, qvec, k=10, n_probe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("PartitionFilters:")[1][:150]
    assert "cluster" in scan, f"no partition pruning: {scan}"
    exact = [
        r["vec_id"]
        for r in cosine_topk(
            emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec, 10
        ).collect()
    ]
    got = [r["vec_id"] for r in out.collect() if r["vec_id"] != 0]
    # measured 0.8 at n_probe=4/8 on this (deterministic) fixture
    assert len(set(got) & set(exact)) >= 7


def test_containment_catches_embedded_copy(spark):
    """A short doc quoted verbatim inside a long one: containment 1.0
    even though Jaccard is low."""
    from zappy_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard,
        word_shingles,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long = "intro words here " + short + " plus much more trailing content words"
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated text body here")],
        "doc_id long, text string",
    )
    # bands=num_hashes (1 row/band): the high-recall banding a
    # containment target needs — a contained doc's Jaccard is low,
    # so multi-row bands would rarely collide (the documented caveat)
    pairs = {
        (r["i"], r["j"]): r["cont"]
        for r in containment_pairs(
            df, "text", "doc_id", threshold=0.9,
            num_hashes=16, bands=16, persist=False,
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    # the same pair's Jaccard is well below the containment score
    g = df.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("grams")
    )
    a = g.filter(F.col("doc_id") == 1).select(F.col("grams").alias("ga"))
    b = g.filter(F.col("doc_id") == 2).select(F.col("grams").alias("gb"))
    jac = a.join(b).select(ngram_jaccard("ga", "gb").alias("j")).first()["j"]
    assert jac < 0.5


def test_standardize_matches_numpy(spark):
    from zappy_spark.operators.linalg import standardize

    rng = np.random.default_rng(11)
    mat = rng.random((50, 6)) * np.array([1, 10, 100, 0.1, 5, 2])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(mat)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = standardize(df, "vec", dim=6).orderBy("id").collect()
    expect = (mat - mat.mean(axis=0)) / mat.std(axis=0, ddof=1)
    got = np.array([r["std_vec"] for r in out])
    assert np.allclose(got, expect, atol=1e-9)
    assert list(out[0].asDict())[:2] == ["id", "vec"]  # original cols kept


def test_dataset_diff_classes(spark):
    from zappy_spark.operators.pipeline import dataset_diff

    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)],
        "id long, s string, v double",
    )
    b = spark.createDataFrame(
        [(2, "y", 2.0), (3, "z", 9.0), (4, "w", 4.0)],
        "id long, s string, v double",
    )
    out = {
        r["id"]: r["status"]
        for r in dataset_diff(a, b, "id", ["s", "v"]).collect()
    }
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_kmeans_update_plan_is_dim_independent(spark):
    """VERDICT r3 wrong-2: the centroid update must be ONE narrow
    (cluster, pos) aggregate whose plan width is constant in dim —
    at dim=256 the old per-dimension spelling emitted 256 avg
    columns; the posexplode spelling emits exactly one."""
    from zappy_spark.operators.similarity import kmeans_assign, kmeans_fit

    rng = np.random.default_rng(3)
    dim = 256
    blobs = np.concatenate(
        [rng.normal(c, 0.05, size=(15, dim)) for c in (0.0, 4.0)]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(blobs)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = kmeans_fit(df, "vec", "id", k=2, max_iter=6)
    means = np.array([blobs[:15].mean(axis=0), blobs[15:].mean(axis=0)])
    for c in cents:
        assert np.abs(means - c).max(axis=1).min() < 1e-9
    # pin the update plan shape: one avg aggregate + a Generate
    # (posexplode), never a dim-wide expression list
    upd = (
        kmeans_assign(df, "vec", cents)
        .select("cluster", F.posexplode(F.col("vec")).alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
    )
    plan = upd._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan and plan.count("avg(") <= 4, plan[:1500]
    assert "partial_avg" in plan  # map-side combine survives


def test_containment_anchor_path_finds_tiny_in_huge(spark):
    """VERDICT r3 next-8: a tiny doc quoted inside a huge one has
    Jaccard ≈ |A|/|B| → banding provably misses it (deterministic
    here: all hashes are md5 of fixed strings). The bounded
    gram-prefix anchor path must recover the pair with cont = 1.0,
    and the pure banded default must stay unchanged (d13's oracle
    replays that form)."""
    from zappy_spark.operators.dedup import containment_pairs

    tiny = " ".join(f"needle{i}" for i in range(8))
    huge = " ".join(f"hay{i}" for i in range(400)) + " " + tiny + " " + " ".join(
        f"stack{i}" for i in range(400)
    )
    others = [
        (10 + n, " ".join(f"doc{n}w{i}" for i in range(30))) for n in range(5)
    ]
    df = spark.createDataFrame(
        [(1, tiny), (2, huge)] + others, "doc_id long, text string"
    )
    banded = containment_pairs(
        df, "text", "doc_id", threshold=0.8, persist=False
    ).collect()
    assert (1, 2) not in {(r["i"], r["j"]) for r in banded}, (
        "banding unexpectedly found the planted pair; test premise broken"
    )
    anchored = containment_pairs(
        df, "text", "doc_id", threshold=0.8, persist=False, anchors=8
    ).collect()
    hits = {(r["i"], r["j"]): r["cont"] for r in anchored}
    assert (1, 2) in hits, hits
    assert hits[(1, 2)] == 1.0


def test_standardize_plan_is_dim_independent(spark):
    """standardize's stats pass must stay ONE narrow (pos) aggregate
    at dim=256 — the old 2×dim-column aggregate spelling strained
    codegen at embedding widths (same class as the kmeans-update
    fix). The transform itself must stay JVM-side."""
    from zappy_spark.operators.linalg import standardize

    rng = np.random.default_rng(5)
    dim = 256
    X = rng.normal(size=(40, dim))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(X)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = standardize(df, "vec", dim=dim)
    got = np.array([r["std_vec"] for r in out.orderBy("id").collect()])
    want = (X - X.mean(axis=0)) / X.std(axis=0, ddof=1)
    assert np.allclose(got, want, atol=1e-9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # plan width constant in dim: no _m{i}/_s{i} column farm
    assert "_m0" not in plan and "_s0" not in plan


def test_weighted_sample_exact_biases_and_bounds(spark):
    """A-ES weighted sampling: exact k, deterministic, and weight-
    proportional — a 1e9-weight row is effectively certain to be
    drawn (its race key is ~1e9 smaller than any unit-weight key),
    and with half the ids at weight 10 vs weight 1 the heavy half
    must dominate the sample. Zero/negative weights are excluded."""
    from zappy_spark.operators.sampling import weighted_sample_exact

    rows = [(i, 10.0 if i % 2 == 0 else 1.0) for i in range(2000)]
    rows.append((99999, 1e9))
    rows.append((99998, 0.0))
    df = spark.createDataFrame(rows, "id long, w double")
    out = weighted_sample_exact(df, "id", "w", 201).collect()
    assert len(out) == 201
    ids = [r["id"] for r in out]
    assert len(set(ids)) == 201  # without replacement
    assert 99999 in ids
    assert 99998 not in ids
    heavy = sum(1 for i in ids if i != 99999 and i % 2 == 0)
    light = sum(1 for i in ids if i != 99999 and i % 2 == 1)
    # E[heavy share] ~ 10/11; allow wide slack, fail only on broken bias
    assert heavy > 3 * light, (heavy, light)
    # deterministic: second run identical
    again = [r["id"] for r in weighted_sample_exact(df, "id", "w", 201).collect()]
    assert ids == again
    with pytest.raises(ValueError):
        weighted_sample_exact(df, "id", "w", 0)


def test_semantic_dup_flags_planted(spark):
    """Planted near-identical pair inside one cluster and an
    identical pair ACROSS clusters: only the within-cluster lower-id
    neighbor flags a dup (the cluster bound is semantic, not just a
    perf trick)."""
    from zappy_spark.operators.dedup import semantic_dup_flags

    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [0.999, 0.01, 0.0]),   # near-dup of 1, same cluster
        (3, 0, [0.0, 1.0, 0.0]),      # distinct
        (4, 1, [1.0, 0.0, 0.0]),      # identical to 1, OTHER cluster
        (5, 1, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id bigint, c int, v array<double>")
    out = {
        r["id"]: r["is_semantic_dup"]
        for r in semantic_dup_flags(df, "v", "id", "c", threshold=0.95).collect()
    }
    assert out == {1: False, 2: True, 3: False, 4: False, 5: False}


def test_span_stats_planted(spark):
    """One 3-token span shared verbatim across two docs; within-doc
    repetition of a span must NOT count as shared."""
    from zappy_spark.operators.dedup import span_stats

    docs = [
        (1, "a b c x y z"),          # spans: "a b c", "x y z"
        (2, "a b c q r s"),          # shares "a b c" with doc 1
        (3, "m n o m n o"),          # repeats its own span only
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {
        r["doc_id"]: (r["n_spans"], r["n_shared"])
        for r in span_stats(df, "text", "doc_id", span=3).collect()
    }
    assert out == {1: (2, 1), 2: (2, 1), 3: (2, 0)}


def test_token_entropy_bounds(spark):
    """Single repeated token → H=0; all-distinct tokens → H=ln(n)."""
    import math

    from zappy_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(1, "x x x x"), (2, "a b c d")], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r["entropy"] for r in token_entropy(df, "text", "doc_id").collect()}
    assert out[1] == 0.0
    assert abs(out[2] - round(math.log(4), 4)) < 1e-9


def test_lexical_diversity_counts(spark):
    from zappy_spark.operators.text import lexical_diversity

    df = spark.createDataFrame([(1, "a a b c")], "doc_id bigint, text string")
    r = lexical_diversity(df, "text", "doc_id").collect()[0]
    assert (r["n_tokens"], r["n_distinct"], r["n_hapax"]) == (4, 3, 2)
    assert r["ttr"] == 0.75
    assert abs(r["hapax_ratio"] - 0.6667) < 1e-9


def test_centroid_cohesion_identical_members(spark):
    """A group of identical vectors has cohesion exactly 1; an
    antipodal pair averages to cosine 0 against a degenerate centroid
    only if the centroid is nonzero — use orthogonal instead."""
    from zappy_spark.operators.similarity import centroid_cohesion

    rows = [
        (1, 0, [2.0, 0.0]),
        (2, 0, [2.0, 0.0]),
        (3, 1, [1.0, 0.0]),
        (4, 1, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id bigint, g int, v array<double>")
    out = {r["g"]: r["cohesion"] for r in centroid_cohesion(df, "v", "id", "g").collect()}
    assert out[0] == 1.0
    # centroid (0.5,0.5); cos(member, centroid) = 1/sqrt(2) for both
    assert abs(out[1] - 0.7071) < 1e-4


def test_knn_classify_separable(spark):
    """Two well-separated label groups: every query votes its own
    group's label unanimously."""
    from zappy_spark.operators.similarity import knn_classify

    rows = [(i, 0, [1.0, float(i) * 0.01]) for i in range(6)] + [
        (10 + i, 1, [-1.0, float(i) * 0.01]) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "id bigint, label int, v array<double>")
    q = df.selectExpr("id as qid", "v as qv").where("id in (0, 10)")
    out = {
        r["qid"]: (r["predicted"], r["votes"])
        for r in knn_classify(df, "v", "id", "label", q, "qv", "qid", k=5).collect()
    }
    assert out == {0: (0, 5), 10: (1, 5)}


def test_binned_range_join_equals_nested_loop(spark):
    """The bin rewrite must be EXACT: same pairs as the plain theta
    join on testdata, across bin widths that do and don't divide the
    interval length."""
    from zappy_spark.operators.joins import binned_range_join
    from zappy_spark.queries._util import t
    from tests.conftest import SF_SMOKE_DIR

    li = t(spark, SF_SMOKE_DIR, "lineitem").select(
        F.unix_date(F.col("l_shipdate").cast("date")).alias("p")
    )
    o = (
        t(spark, SF_SMOKE_DIR, "orders")
        .select(F.unix_date(F.col("o_orderdate").cast("date")).alias("lo"))
        .withColumn("hi", F.col("lo") + 10)
    )
    plain = li.join(
        o, (F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi"))
    ).count()
    assert plain > 0
    for w in (3, 10, 16):
        assert binned_range_join(li, o, "p", "lo", "hi", w).count() == plain


def test_binned_range_join_boundaries(spark):
    """Half-open [lo, hi): p==lo matches, p==hi doesn't; zero-length
    intervals match nothing; bin-edge-aligned intervals don't
    duplicate pairs."""
    from zappy_spark.operators.joins import binned_range_join

    pts = spark.createDataFrame([(0,), (5,), (10,), (15,)], "p bigint")
    iv = spark.createDataFrame(
        [(0, 10, "a"), (10, 10, "z"), (10, 20, "b")], "lo bigint, hi bigint, tag string"
    )
    got = sorted(
        (r["p"], r["tag"])
        for r in binned_range_join(pts, iv, "p", "lo", "hi", 5).collect()
    )
    assert got == [(0, "a"), (5, "a"), (10, "b"), (15, "b")]


def test_span_edges_df_cap_bounds_fanout(spark):
    """A span shared by MORE than max_df docs must produce no edges
    (boilerplate guard); distinct-span counting must ignore within-
    doc repetition."""
    from zappy_spark.operators.dedup import span_edges

    boiler = "x y z " * 5  # same 3-token span repeated within doc
    rows = [(i, boiler + f"u{i} v{i} w{i}") for i in range(12)]
    # two docs genuinely sharing 3 distinct spans
    rows += [(100, "a b c d e f g h i"), (101, "a b c d e f g h i")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    edges = span_edges(
        df, "text", "doc_id", span=3, min_shared=3, max_df=8
    ).collect()
    pairs = {(r.i, r.j) for r in edges}
    assert pairs == {(100, 101)}, pairs


def test_cc_closure_chains_transitively(spark):
    """(a,b) + (b,c) edges must land a, b, c in ONE component even
    though (a,c) never appears."""
    from zappy_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["i", "j"]
    )
    comps = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_fingerprint_dedup_collapses_reorderings(spark):
    from zappy_spark.operators.dedup import fingerprint_dup_groups

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "gamma  alpha beta beta"),  # reorder + repeat + spacing
            (2, "alpha beta delta"),
        ],
        ["doc_id", "text"],
    )
    groups = fingerprint_dup_groups(df, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 2 and groups[0].keep_id == 0


def test_pq_codes_recover_planted_centroids(spark):
    """Vectors generated AT a codebook centroid (plus tiny noise)
    must be assigned that centroid's code in every subspace."""
    from zappy_spark.operators.similarity import pq_codebook, pq_codes

    cb = pq_codebook()
    m, k, sub_dim = cb.shape
    rng = np.random.default_rng(3)
    rows = []
    want = []
    for i in range(20):
        codes = rng.integers(0, k, size=m)
        vec = np.concatenate(
            [cb[s, codes[s]] + rng.normal(0, 1e-3, sub_dim) for s in range(m)]
        )
        rows.append((i, [float(x) for x in vec]))
        want.append(tuple(int(c) for c in codes))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r.vec_id: (r.c0, r.c1, r.c2, r.c3)
        for r in pq_codes(df, "embedding", "vec_id", cb).collect()
    }
    assert [got[i] for i in range(20)] == want


def test_pq_argmin_ties_take_smaller_index(spark):
    from zappy_spark.operators.similarity import _argmin_chain

    df = spark.createDataFrame([(1,)], ["x"])
    picked = df.select(
        _argmin_chain([F.lit(2.0), F.lit(1.0), F.lit(1.0)]).alias("c")
    ).collect()[0].c
    assert picked == 1


def test_bm25_ranks_term_dense_doc_first(spark):
    from zappy_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [
            (0, "data data data filler filler"),
            (1, "data filler filler filler filler"),
            (2, "filler filler filler filler filler"),
        ],
        ["doc_id", "text"],
    )
    scores = {
        r.doc_id: r.bm25
        for r in bm25_scores(df, "text", "doc_id", ("data",)).collect()
    }
    assert 2 not in scores  # no query term -> no row
    assert scores[0] > scores[1] > 0


def test_gopher_rules_flags(spark):
    from zappy_spark.operators.text import gopher_quality

    good = "the quick brown fox jumps over a lazy dog " * 6  # 54 words
    short = "the a of"
    symbols = " ".join(["$$$"] * 60)
    df = spark.createDataFrame(
        [(0, good), (1, short), (2, symbols)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in gopher_quality(df, "text", "doc_id").collect()}
    assert out[0].keep == 1
    assert out[1].keep == 0  # too few words
    assert out[2].keep == 0 and out[2].frac_alpha == 0.0


def test_unigram_ppl_uniform_vs_repetitive(spark):
    """Uniform-random token docs sit near vocab-size perplexity;
    single-token docs sit at the token's inverse frequency — the
    repetitive doc must score far lower."""
    from zappy_spark.operators.text import unigram_perplexity

    df = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),   # all distinct
            (1, "a a a a a a a a"),   # degenerate repetition
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.ppl for r in unigram_perplexity(df, "text", "doc_id").collect()}
    # corpus: a appears 9/16, b..h 1/16 each
    assert out[1] < out[0]
    assert abs(out[1] - 16 / 9) < 1e-3  # ppl of constant-'a' doc = 1/p(a)


def test_adc_approximates_exact_distance(spark):
    """ADC distance (LUT over PQ codes) must correlate with the true
    squared distance: the ADC-nearest of a planted near-query vector
    must beat a far vector."""
    from zappy_spark.operators.similarity import (
        adc_scores,
        pq_codebook,
    )

    cb = pq_codebook()
    q = np.round(np.random.default_rng(5).normal(0.0, 0.12, 64), 4)
    near = [float(x) for x in q + 0.001]
    far = [float(x) for x in -q]
    df = spark.createDataFrame(
        [(0, near), (1, far)], ["vec_id", "embedding"]
    )
    out = {r.vec_id: r.adist for r in adc_scores(df, "embedding", "vec_id", cb, q).collect()}
    assert out[0] < out[1]


def test_incremental_dedup_tiers(spark):
    from zappy_spark.operators.dedup import incremental_new_docs

    old = spark.createDataFrame(
        [(0, "alpha beta gamma")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),        # exact dup
            (11, "beta gamma alpha alpha"),  # fingerprint dup only
            (12, "delta epsilon zeta"),      # novel
        ],
        ["doc_id", "text"],
    )
    exact = {r.doc_id for r in incremental_new_docs(new, old, "text", "doc_id").collect()}
    fp = {
        r.doc_id
        for r in incremental_new_docs(
            new, old, "text", "doc_id", tier="fingerprint"
        ).collect()
    }
    assert exact == {11, 12}
    assert fp == {12}


def test_audio_chunk_plan_covers_exactly(spark):
    """Chunk plan: offsets tile [0, n_samples) exactly — last chunk
    truncated, sum of chunk lengths == total."""
    from zappy_spark.operators.multimodal import audio_chunk_plan

    rows = [
        (1, "audio", None, {"width": None, "height": None,
                            "sample_rate": 16000, "n_frames": 40000,
                            "mime": "audio/wav"}),
        (2, "audio", None, {"width": None, "height": None,
                            "sample_rate": 8000, "n_frames": 8000,
                            "mime": "audio/wav"}),
        (3, "video", None, {"width": None, "height": None,
                            "sample_rate": 0, "n_frames": 100,
                            "mime": "video/mp4"}),
    ]
    from zappy_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = audio_chunk_plan(df, chunk_ms=1000).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    # media 1: 16000 samples/chunk over 40000 -> 3 chunks (16k,16k,8k)
    c1 = sorted(by_id[1], key=lambda r: r.chunk_idx)
    assert [r.n_samples for r in c1] == [16000, 16000, 8000]
    assert [r.start_sample for r in c1] == [0, 16000, 32000]
    # media 2: exactly one full chunk
    assert [(r.start_sample, r.n_samples) for r in by_id[2]] == [(0, 8000)]
    # video rows never appear
    assert 3 not in by_id


def test_uri_payload_fetch_runs_on_executors(spark):
    """load_uri_payloads: payloads are deterministic functions of the
    URI and materialize through mapInPandas (a Python stage in the
    plan), never via a driver-side loop."""
    from zappy_spark.operators.multimodal import _fake_fetch, load_uri_payloads

    df = spark.createDataFrame(
        [(1, "s3://bucket/a"), (2, "s3://bucket/b")], ["media_id", "uri"]
    )
    out = load_uri_payloads(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" in plan or "MapInPandas" in plan
    got = {r.media_id: bytes(r.payload) for r in out.collect()}
    assert got == {1: _fake_fetch("s3://bucket/a"), 2: _fake_fetch("s3://bucket/b")}
    assert len(got[1]) == 128


def test_asof_tolerance_drops_stale_matches(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from zappy_spark.operators.joins import asof_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, base + dt.timedelta(minutes=m)) for m in (10, 100)],
        ["k", "ts"],
    )
    right = spark.createDataFrame(
        [(1, base, "r0")], ["k", "ts"]
    ).withColumnRenamed("_2", "ts")
    right = spark.createDataFrame([(1, base, "r0")], ["k", "ts", "tag"])

    no_tol = asof_join(left, right, on="ts", by=["k"]).collect()
    assert len(no_tol) == 2  # both clicks match the single prior row

    tol = asof_join(
        left, right, on="ts", by=["k"],
        tolerance=F.expr("INTERVAL 30 MINUTES"),
    ).collect()
    assert len(tol) == 1  # the 100-minute-later row is stale
    assert tol[0].ts.minute == 10

    fwd = asof_join(
        right.select("k", "ts"),
        left.withColumn("tag", F.lit("l")),
        on="ts",
        by=["k"],
        direction="forward",
        tolerance=F.expr("INTERVAL 30 MINUTES"),
    ).collect()
    assert len(fwd) == 1 and fwd[0].ts_right.minute == 10


def test_lsh_max_bucket_guards_mass_duplication(spark):
    """A 30-clone family floods its LSH buckets; with max_bucket the
    flood generates no candidate pairs while a genuine fuzzy pair
    elsewhere still surfaces."""
    from zappy_spark.operators.dedup import near_dup_pairs

    base = " ".join(f"w{i}" for i in range(30))
    rows = [(i, base) for i in range(30)]  # mass-duplicated family
    fuzzy = " ".join((["x0"] + [f"x{i}" for i in range(1, 25)]))
    fuzzy2 = " ".join((["y0"] + [f"x{i}" for i in range(1, 25)]))
    rows += [(100, fuzzy), (101, fuzzy2)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    unguarded = near_dup_pairs(
        df, "text", "doc_id", threshold=0.5, persist=False
    ).collect()
    assert sum(1 for r in unguarded if r.i < 30) == 30 * 29 / 2

    guarded = near_dup_pairs(
        df, "text", "doc_id", threshold=0.5, persist=False, max_bucket=10
    ).collect()
    assert all(r.i >= 100 for r in guarded), guarded
    assert {(r.i, r.j) for r in guarded} == {(100, 101)}


def test_variant_typed_extraction_semantics(spark):
    """VARIANT (Spark 4) surface: parse_json once, typed variant_get
    extractions equal the string-path get_json_object casts; absent
    paths yield NULL (not an error); try_parse_json survives
    malformed payloads where parse_json would raise."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, '{"k": 7, "tag": "a"}'), (1, '{"k": 9}'), (2, "{broken")],
        ["id", "js"],
    )
    good = df.filter(F.col("id") < 2).select(
        "id", F.parse_json("js").alias("v"), "js"
    )
    got = good.select(
        "id",
        F.variant_get("v", "$.k", "int").alias("k_var"),
        F.get_json_object("js", "$.k").cast("int").alias("k_str"),
        F.variant_get("v", "$.tag", "string").alias("tag"),
        F.variant_get("v", "$.missing", "int").alias("absent"),
    ).collect()
    for r in got:
        assert r.k_var == r.k_str
        assert r.absent is None
    assert {r.tag for r in got} == {"a", None}

    tried = df.select(
        "id", F.try_parse_json("js").alias("v")
    ).collect()
    assert [r.v is None for r in sorted(tried, key=lambda r: r.id)] == [
        False,
        False,
        True,
    ]


def test_multi_split_disjoint_append_stable(spark):
    """multi_split partitions every id into exactly one split, hits
    the requested proportions in expectation, and never migrates an
    id when the corpus grows (append-stability)."""
    from zappy_spark.operators.sampling import multi_split

    df = spark.range(0, 4000).withColumnRenamed("id", "k")
    out = multi_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 4000
    assert 0.75 < counts["train"] / 4000 < 0.85
    assert 0.06 < counts["val"] / 4000 < 0.14
    assert 0.06 < counts["test"] / 4000 < 0.14

    grown = multi_split(
        spark.range(0, 8000).withColumnRenamed("id", "k"),
        "k", {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    small = {r.k: r.split for r in out.collect()}
    big = {r.k: r.split for r in grown.filter(F.col("k") < 4000).collect()}
    assert small == big

    import pytest as _pytest

    with _pytest.raises(ValueError):
        multi_split(df, "k", {"a": 0.5, "b": 0.4})


def test_contamination_fraction_graded_gate(spark):
    """Planted corpus: a verbatim benchmark copy scores 1.0, a doc
    quoting one benchmark trigram scores its exact fraction, a clean
    doc scores 0.0; decontaminate_frac drops only above the
    threshold and keeps too-short docs."""
    from zappy_spark.operators.dedup import (
        contamination_fraction,
        decontaminate_frac,
    )

    bench = spark.createDataFrame(
        [(900, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),          # full copy -> 1.0
            (2, "x alpha beta gamma y z w q"),      # 1 of 6 grams
            (3, "p q r s t u v"),                   # clean -> 0.0
            (4, "too short"),                       # no 3-gram -> kept
        ],
        ["doc_id", "text"],
    )
    fr = {
        r.doc_id: r.frac
        for r in contamination_fraction(
            corpus, bench, "text", "doc_id", k=3
        ).collect()
    }
    assert fr[1] == 1.0 and fr[3] == 0.0
    assert abs(fr[2] - 1 / 6) < 1e-12
    assert 4 not in fr  # no grams -> no row

    kept = decontaminate_frac(
        corpus, bench, "text", "doc_id", k=3, max_frac=0.5
    )
    assert sorted(r.doc_id for r in kept.collect()) == [2, 3, 4]


def test_batch_ivf_probe_recalls_and_prunes(spark, tmp_path):
    """Batch IVF probing: every query in the batch gets its own
    n_probe clusters; full-probe (n_probe = k) equals the exact
    batch kNN, partial probe keeps high recall, and the scan is
    restricted to probed clusters via the partition column."""
    from zappy_spark.operators.similarity import (
        batch_query_ivf_index,
        build_ivf_index,
        knn_join,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_batch_idx")
    build_ivf_index(emb, "embedding", "vec_id", path, k=8, max_iter=5)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )

    exact = {
        (r.qid, r.vec_id)
        for r in knn_join(
            emb, queries, "embedding", "vec_id", "qv", "qid", k=10,
            round_digits=6,
        ).collect()
    }
    full = {
        (r.qid, r.vec_id)
        for r in batch_query_ivf_index(
            spark, path, queries, "qv", "qid", k=10, n_probe=8
        ).collect()
    }
    assert full == exact  # probing every cell IS brute force

    part = batch_query_ivf_index(
        spark, path, queries, "qv", "qid", k=10, n_probe=4
    )
    got = {(r.qid, r.vec_id) for r in part.collect()}
    assert len(got) == 50  # k rows per query
    recall = len(got & exact) / len(exact)
    assert recall >= 0.7, recall


def test_ivfpq_index_probe_recall_and_layout(spark, tmp_path):
    """IVF-PQ: the probe reads only probed cells (partition filter),
    scores by stored byte codes, and the shortlist re-rank recovers
    most of the exact top-10; with every cell probed and a full
    shortlist it equals the exact answer."""
    from zappy_spark.operators.similarity import (
        build_ivfpq_index,
        cosine_topk,
        pq_codebook,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = pq_codebook()
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, "embedding", "vec_id", path, k=8, max_iter=5,
                      codebook=cb)

    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    exact = [
        r.vec_id
        for r in cosine_topk(emb, "embedding", "vec_id", qvec, 10).collect()
    ]

    n = emb.count()
    full = query_ivfpq_index(
        spark, path, qvec, codebook=cb, k=10, n_probe=8, rerank=n
    )
    assert [r.vec_id for r in full.collect()] == exact

    out = query_ivfpq_index(
        spark, path, qvec, codebook=cb, k=10, n_probe=4, rerank=100
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "cluster" in plan.split("PartitionFilters:")[1][:150]
    got = [r.vec_id for r in out.collect()]
    assert len(set(got) & set(exact)) >= 6, got


def test_observed_metrics_ride_the_action(spark):
    """diagnostics.observed: metrics arrive with the action itself —
    no second scan — and report the same numbers a separate
    aggregate would."""
    from zappy_spark.operators.diagnostics import observed

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    flt = li.filter(F.col("l_quantity") > 25)
    obs_df, obs = observed(
        flt,
        "gate",
        {
            "rows": F.count(F.lit(1)),
            "qty": F.round(F.sum("l_quantity"), 2),
            "null_disc": F.count(F.when(F.col("l_discount").isNull(), 1)),
        },
    )
    n_action = obs_df.count()  # the one and only pass
    got = obs.get
    want = flt.agg(
        F.count(F.lit(1)).alias("rows"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    ).first()
    assert got["rows"] == n_action == want["rows"]
    assert got["qty"] == want["qty"]
    assert got["null_disc"] == 0


def test_psi_report_detects_planted_drift(spark):
    """Identical distributions → PSI ~0; a shifted distribution →
    PSI over the 0.25 drift rule of thumb."""
    from zappy_spark.operators.diagnostics import psi_report

    base = spark.range(0, 4000).select(
        (F.col("id") % 100).cast("double").alias("v")
    )
    same = psi_report(base, base, "v", 0.0, 10.0, 10).agg(
        F.sum("term").alias("psi")
    ).first()["psi"]
    assert abs(same) < 1e-9

    shifted = spark.range(0, 4000).select(
        (((F.col("id") % 100) * 0.4) + 55.0).alias("v")
    )
    psi = psi_report(base, shifted, "v", 0.0, 10.0, 10).agg(
        F.sum("term").alias("psi")
    ).first()["psi"]
    assert psi > 0.25, psi

    import pytest as _pytest

    with _pytest.raises(ValueError):
        psi_report(base, base, "v", 0.0, 0.0, 10)


def test_scd2_apply_accrues_history_across_batches(spark):
    """Two successive change batches: version chains stay contiguous
    (each close matches the next open), exactly one current version
    per key, and prior closed history is never touched."""
    import datetime

    from zappy_spark.operators.pipeline import scd2_apply

    d0 = datetime.date(2024, 1, 1)
    hist = spark.createDataFrame(
        [(1, "a", d0, None), (2, "b", d0, None)],
        "k int, attr string, valid_from date, valid_to date",
    )
    b1 = spark.createDataFrame(
        [(1, "a2", datetime.date(2024, 2, 1))], "k int, attr string, ts date"
    )
    h1 = scd2_apply(hist, b1, ["k"], "ts")
    b2 = spark.createDataFrame(
        [(1, "a3", datetime.date(2024, 3, 1)),
         (2, "b2", datetime.date(2024, 3, 1))],
        "k int, attr string, ts date",
    )
    h2 = scd2_apply(h1, b2, ["k"], "ts")

    rows = sorted(
        ((r.k, r.attr, r.valid_from, r.valid_to) for r in h2.collect())
    )
    assert rows == [
        (1, "a", d0, datetime.date(2024, 2, 1)),
        (1, "a2", datetime.date(2024, 2, 1), datetime.date(2024, 3, 1)),
        (1, "a3", datetime.date(2024, 3, 1), None),
        (2, "b", d0, datetime.date(2024, 3, 1)),
        (2, "b2", datetime.date(2024, 3, 1), None),
    ]
    cur = [r for r in rows if r[3] is None]
    assert len(cur) == 2


def test_pagerank_matches_numpy_power_iteration(spark):
    """PageRank on a small directed graph (with a dangling node)
    equals the numpy power iteration on the same stochastic matrix;
    ranks sum to 1."""
    import numpy as np

    from zappy_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 2)]  # 4 has no edges
    df = spark.createDataFrame(edges + [(4, 0)], ["i", "j"])
    # node 5: dangling (incoming only)
    df = df.union(spark.createDataFrame([(2, 5)], ["i", "j"]))
    got = {
        r.node: r.rank
        for r in pagerank(df, max_iter=100, tol=1e-10).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-6

    n, d = 6, 0.85
    M = np.zeros((n, n))
    all_edges = edges + [(4, 0), (2, 5)]
    deg = {s: sum(1 for a, _ in all_edges if a == s) for s, _ in all_edges}
    for s, t in all_edges:
        M[t, s] = 1.0 / deg[s]
    r = np.full(n, 1 / n)
    for _ in range(200):
        dangling = r[[i for i in range(n) if i not in deg]].sum()
        r = (1 - d) / n + d * (M @ r) + d * dangling / n
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-6, (i, got[i], r[i])


def test_graph_non_convergence_raises(spark):
    """An iterative operator that runs out of rounds before its
    convergence probe passes raises, naming itself, instead of
    returning a partial answer."""
    from zappy_spark.operators.graph import connected_components, pagerank

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "i bigint, j bigint"
    )
    with pytest.raises(RuntimeError, match="connected_components"):
        connected_components(chain, max_iter=3).collect()
    with pytest.raises(RuntimeError, match="pagerank"):
        pagerank(chain, max_iter=3, tol=0.0).collect()


@pytest.mark.slow
def test_batch_ivfpq_probe_full_equals_exact(spark, tmp_path):
    """Batch IVF-PQ: with every cell probed and a full shortlist the
    batch probe equals the exact batch kNN; half probes keep high
    per-query recall."""
    from zappy_spark.operators.similarity import (
        batch_query_ivfpq_index,
        build_ivfpq_index,
        knn_join,
        pq_codebook,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = pq_codebook()
    path = str(tmp_path / "ivfpq_b")
    build_ivfpq_index(emb, "embedding", "vec_id", path, k=8, max_iter=5,
                      codebook=cb)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {
        (r.qid, r.vec_id)
        for r in knn_join(
            emb, queries, "embedding", "vec_id", "qv", "qid", k=10,
            round_digits=6,
        ).collect()
    }
    n = emb.count()
    full = {
        (r.qid, r.vec_id)
        for r in batch_query_ivfpq_index(
            spark, path, queries, "qv", "qid", codebook=cb,
            k=10, n_probe=8, rerank=n,
        ).collect()
    }
    assert full == exact

    part = {
        (r.qid, r.vec_id)
        for r in batch_query_ivfpq_index(
            spark, path, queries, "qv", "qid", codebook=cb,
            k=10, n_probe=4, rerank=200,
        ).collect()
    }
    assert len(part) == 40
    # near-random embeddings are the worst case for IVF cells; with
    # half the cells probed and a 200-deep shortlist, measured
    # recall on this deterministic fixture is 0.65
    assert len(part & exact) / len(exact) >= 0.6


@pytest.mark.slow
def test_personalized_pagerank_concentrates_on_seed(spark):
    """restart=[seed]: mass concentrates on the seed's neighborhood
    (seed ranked first, its direct successor above distant nodes),
    ranks still sum to 1; restart over ALL nodes equals standard
    PageRank."""
    import numpy as np

    from zappy_spark.operators.graph import pagerank

    # chain 0->1->2->3->4 plus back edges making it irreducible
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0)]
    df = spark.createDataFrame(edges, ["i", "j"])
    ppr = {
        r.node: r.rank
        for r in pagerank(
            df, max_iter=200, tol=1e-12, restart=[0]
        ).collect()
    }
    assert abs(sum(ppr.values()) - 1.0) < 1e-9
    assert ppr[0] == max(ppr.values())
    assert ppr[1] > ppr[3]  # closer to seed outranks farther

    full = pagerank(df, max_iter=200, tol=1e-12)
    std = {r.node: r.rank for r in full.collect()}
    every = pagerank(
        df, max_iter=200, tol=1e-12, restart=[0, 1, 2, 3, 4]
    )
    alt = {r.node: r.rank for r in every.collect()}
    assert all(abs(std[k] - alt[k]) < 1e-9 for k in std)

    # the teleport mass splits over the DISTINCT seeds IN the graph:
    # an absent or a repeated seed changes nothing
    for seeds in ([0, 99], [0, 0]):
        got = {
            r.node: r.rank
            for r in pagerank(
                df, max_iter=200, tol=1e-12, restart=seeds
            ).collect()
        }
        assert abs(sum(got.values()) - 1.0) < 1e-12, seeds
        assert all(abs(got[k] - ppr[k]) < 1e-12 for k in ppr), seeds
    with pytest.raises(ValueError, match="restart"):
        pagerank(df, max_iter=200, tol=1e-12, restart=[99])


def test_publish_with_audit_gates_bad_data(spark, tmp_path):
    """WAP: a passing audit promotes atomically; a failing audit
    raises, leaves staging for inspection, and never touches the
    published path."""
    import os

    from zappy_spark.operators.pipeline import publish_with_audit

    good = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    path = str(tmp_path / "ds")
    out = publish_with_audit(
        good,
        path,
        audits=[
            lambda d: None if d.count() == 100 else "row count",
            lambda d: None
            if d.filter(F.col("v").isNull()).count() == 0
            else "nulls in v",
        ],
    )
    assert out["rows"] == 100
    assert spark.read.parquet(path).count() == 100

    bad = spark.range(0, 5).withColumn("v", F.lit(None).cast("long"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="nulls in v"):
        publish_with_audit(
            bad,
            path,
            audits=[
                lambda d: None
                if d.filter(F.col("v").isNull()).count() == 0
                else "nulls in v",
            ],
        )
    # published data untouched; staging retained for inspection
    assert spark.read.parquet(path).count() == 100
    assert os.path.exists(path + "._staging")


def test_leakage_free_split_keeps_duplicate_groups_together(spark):
    """Planted word-order duplicates (same token-set fingerprint)
    must land in ONE split, while id-hash splitting would scatter
    them; every doc gets exactly one split (disjoint + total)."""
    from zappy_spark.operators.sampling import leakage_free_split

    rows = []
    for g in range(40):  # 40 content groups, 3 order-variants each
        toks = [f"w{g}a", f"w{g}b", f"w{g}c", f"w{g}d"]
        variants = [
            " ".join(toks),
            " ".join(reversed(toks)),
            " ".join(toks[2:] + toks[:2]) + " " + toks[0],  # repetition
        ]
        for i, text in enumerate(variants):
            rows.append((g * 3 + i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_free_split(
        df, "text", "doc_id", {"train": 0.6, "val": 0.2, "test": 0.2}
    )
    got = out.select("doc_id", "fp", "split").collect()
    assert len(got) == 120 and len({r["doc_id"] for r in got}) == 120
    by_fp = {}
    for r in got:
        by_fp.setdefault(r["fp"], set()).add(r["split"])
    assert len(by_fp) == 40  # variants collapsed to one group each
    for fp, splits in by_fp.items():
        assert len(splits) == 1, f"group {fp} leaked across {splits}"
    # sanity: the split is not degenerate (both sides populated)
    names = {r["split"] for r in got}
    assert "train" in names and len(names) >= 2


def test_matryoshka_full_shortlist_equals_exact(spark):
    """With shortlist >= candidate count the re-rank sees everything,
    so prefix retrieval must reproduce exact brute-force top-k — the
    identity that pins the re-rank stage's correctness."""
    import pyarrow.dataset as ds

    from zappy_spark.operators.similarity import (
        cosine_topk,
        matryoshka_topk,
    )

    d = "/root/testdata/sf0.01"
    tab = ds.dataset(f"{d}/embeddings.parquet").to_table(
        filter=ds.field("vec_id") == 7, columns=["embedding"]
    )
    qv = [float(x) for x in tab.column(0)[0].as_py()]
    emb = spark.read.parquet(f"{d}/embeddings.parquet").filter(
        F.col("vec_id") != 7
    )
    full = matryoshka_topk(
        emb, "embedding", "vec_id", qv, prefix_dim=16, shortlist=10**6, k=10
    ).collect()
    exact = cosine_topk(emb, "embedding", "vec_id", qv, k=10).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]


def test_matryoshka_recall_floor(spark):
    """Recall floor on the WORST case (near-random vectors carry no
    front-loaded signal: measured 5/10 at shortlist=50, 7/10 at 100).
    Real MRL embeddings concentrate variance in the prefix; this
    floor just guards against a broken coarse stage (e.g. slicing
    the wrong dims), which would push recall toward 10/500."""
    import pyarrow.dataset as ds

    from zappy_spark.operators.similarity import (
        cosine_topk,
        matryoshka_topk,
    )

    d = "/root/testdata/sf0.01"
    tab = ds.dataset(f"{d}/embeddings.parquet").to_table(
        filter=ds.field("vec_id") == 7, columns=["embedding"]
    )
    qv = [float(x) for x in tab.column(0)[0].as_py()]
    emb = spark.read.parquet(f"{d}/embeddings.parquet").filter(
        F.col("vec_id") != 7
    )
    exact = {
        r["vec_id"]
        for r in cosine_topk(emb, "embedding", "vec_id", qv, 10).collect()
    }
    got = {
        r["vec_id"]
        for r in matryoshka_topk(
            emb, "embedding", "vec_id", qv, 16, 50, 10
        ).collect()
    }
    assert len(exact & got) >= 3


def test_triangle_count_planted_graphs(spark):
    """K4 has 4 triangles, a square has 0, a star has 0; disjoint
    union counts add. Also a high-degree hub with one closing edge:
    exactly 1 triangle regardless of orientation."""
    from zappy_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    square = [(10, 11), (11, 12), (12, 13), (13, 10)]
    star = [(20, x) for x in range(21, 26)]
    hub = [(30, x) for x in range(31, 41)] + [(31, 32)]
    edges = spark.createDataFrame(
        k4 + square + star + hub, "i long, j long"
    )
    row = triangle_count(edges, "i", "j").collect()[0]
    assert row["n_triangles"] == 4 + 0 + 0 + 1
    assert row["n_edges"] == len(k4) + 4 + 5 + 11
    assert row["n_nodes"] == 4 + 4 + 6 + 11
    # direction/duplicate invariance: reversed + doubled edges
    rev = spark.createDataFrame(
        [(j, i) for i, j in k4] + k4, "i long, j long"
    )
    assert triangle_count(rev, "i", "j").collect()[0]["n_triangles"] == 4


def test_temperature_sample_flattens_head_groups(spark):
    from pyspark.sql import functions as F

    from zappy_spark.operators.sampling import temperature_sample

    # head group 3200 rows, tail group 50 rows
    df = spark.createDataFrame(
        [(i, "head" if i < 3200 else "tail") for i in range(3250)],
        "doc_id bigint, source string",
    )
    out = temperature_sample(df, "doc_id", "source", scale=10.0)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # tail rate = min(1, 10/sqrt(50)) = 1 -> kept whole
    assert counts["tail"] == 50
    # head expectation = 10*sqrt(3200) ~ 566; binomial spread is tight
    assert 420 < counts["head"] < 720
    # deterministic
    again = temperature_sample(df, "doc_id", "source", scale=10.0)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # alpha=1 keeps everything rate-1 when scale >= 1
    full = temperature_sample(df, "doc_id", "source", scale=1.0, alpha=1.0)
    assert full.count() == 3250


def test_per_group_cap_keeps_best_k(spark):
    from zappy_spark.operators.sampling import per_group_cap

    rows = [(i, "a", i * 2) for i in range(30)] + [
        (100 + i, "b", 5) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, q bigint")
    out = per_group_cap(df, "source", "q", "doc_id", 10)
    a = sorted(r["doc_id"] for r in out.filter("source='a'").collect())
    # top-10 by q desc = ids 20..29
    assert a == list(range(20, 30))
    # undersized group kept whole; tie on q broken by ascending id
    b = sorted(r["doc_id"] for r in out.filter("source='b'").collect())
    assert b == [100, 101, 102]
    capped2 = per_group_cap(df, "source", "q", "doc_id", 2)
    assert sorted(
        r["doc_id"] for r in capped2.filter("source='b'").collect()
    ) == [100, 101]


def test_winsorize_clamps_to_discrete_edges(spark):
    from zappy_spark.operators.diagnostics import winsorize

    # values 1..100 in one group: p05 edge=5, p95 edge=95 (discrete)
    df = spark.createDataFrame(
        [(i, "en", i) for i in range(1, 101)],
        "doc_id bigint, lang string, v bigint",
    )
    out = winsorize(df, "v", "lang", 0.05, 0.95).collect()
    lo = {r["_lo"] for r in out}
    hi = {r["_hi"] for r in out}
    assert lo == {5} and hi == {95}
    clipped = {r["v"]: r["v_wins"] for r in out}
    assert clipped[1] == 5 and clipped[3] == 5
    assert clipped[99] == 95 and clipped[100] == 95
    assert clipped[50] == 50  # interior untouched
    # edges are actual data values even on skewed distributions
    skew = spark.createDataFrame(
        [(i, "x", 7) for i in range(99)] + [(99, "x", 10_000)],
        "doc_id bigint, lang string, v bigint",
    )
    srows = winsorize(skew, "v", "lang", 0.05, 0.95).collect()
    assert {r["_lo"] for r in srows} == {7}
    assert {r["_hi"] for r in srows} == {7}
    assert {r["v_wins"] for r in srows} == {7}


def test_label_propagation_separates_planted_communities(spark):
    from pyspark.sql import functions as F

    from zappy_spark.operators.graph import label_propagation

    # two 5-cliques joined by ONE bridge edge: CC would merge them,
    # LPA must keep them separate (the bridge is outvoted 4-to-1)
    c1 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    c2 = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    edges = spark.createDataFrame(c1 + c2 + [(4, 10)], "i bigint, j bigint")
    out = label_propagation(edges, "i", "j", iters=5)
    labels = {r["node"]: r["label"] for r in out.collect()}
    assert len(labels) == 10
    left = {labels[n] for n in range(5)}
    right = {labels[n] for n in range(10, 15)}
    assert len(left) == 1 and len(right) == 1
    assert left != right
    # deterministic across runs
    again = {r["node"]: r["label"] for r in
             label_propagation(edges, "i", "j", iters=5).collect()}
    assert labels == again
    # degenerate single edge: synchronous LPA label-SWAPS each round
    # (the classic bipartite oscillation) — even iters return to the
    # start, odd iters are the swapped state; both are deterministic
    pair = spark.createDataFrame([(7, 9)], "i bigint, j bigint")
    even = {r["node"]: r["label"] for r in
            label_propagation(pair, iters=4).collect()}
    odd = {r["node"]: r["label"] for r in
           label_propagation(pair, iters=5).collect()}
    assert even == {7: 7, 9: 9}
    assert odd == {7: 9, 9: 7}


def test_hits_authority_rewards_strong_hubs(spark):
    from zappy_spark.operators.graph import hits_bipartite

    # parts 100 and 200 each have TWO buyers, but 100's buyers are
    # broad-basket hubs (each also buys parts 1..4); 200's buyers buy
    # nothing else. Degree ties, HITS must rank 100 above 200.
    hub_edges = [(1, 100), (2, 100)] + [
        (o, p) for o in (1, 2) for p in (1, 2, 3, 4)
    ]
    weak_edges = [(3, 200), (4, 200)]
    e = spark.createDataFrame(hub_edges + weak_edges, "o bigint, p bigint")
    auth = {
        r["node"]: r["auth"]
        for r in hits_bipartite(e, "o", "p", iters=3).collect()
    }
    assert auth[100] > auth[200]
    # integer exactness: iters=1 authority is exactly the in-degree
    one = {
        r["node"]: r["auth"]
        for r in hits_bipartite(e, "o", "p", iters=1).collect()
    }
    assert one[100] == 2 and one[200] == 2 and one[1] == 2
    # deterministic across runs
    again = {
        r["node"]: r["auth"]
        for r in hits_bipartite(e, "o", "p", iters=3).collect()
    }
    assert auth == again


def test_rendezvous_shard_stability(spark):
    from pyspark.sql import functions as F

    from zappy_spark.operators.layout import rendezvous_shard

    df = spark.range(0, 3000).withColumnRenamed("id", "doc_id")
    a = rendezvous_shard(df, "doc_id", 8, "sh8")
    b = rendezvous_shard(a, "doc_id", 9, "sh9").collect()
    # balanced-ish: every shard populated
    from collections import Counter

    c8 = Counter(r["sh8"] for r in b)
    assert set(c8) == set(range(8))
    # growth stability: movers are ~1/9 and ALL land on the NEW shard
    movers = [r for r in b if r["sh9"] != r["sh8"]]
    assert all(r["sh9"] == 8 for r in movers)
    assert 0.06 < len(movers) / 3000 < 0.17
    # non-movers keep their shard verbatim; assignment is deterministic
    again = {
        r["doc_id"]: r["sh8"]
        for r in rendezvous_shard(df, "doc_id", 8, "sh8").collect()
    }
    assert all(again[r["doc_id"]] == r["sh8"] for r in b)


# ---------------------------------------------------------- round 5c ops


def test_bfs_hops_chain_and_multiseed(spark):
    from zappy_spark.operators.graph import bfs_hops

    # chain 1-2-3-4-5-6 plus an isolated edge 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)], ["i", "j"]
    )
    seeds = spark.createDataFrame([(1,)], ["n"])
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5, 6, 10, 11 unreached
    # multi-seed takes the MIN distance over seeds
    seeds2 = spark.createDataFrame([(1,), (6,)], ["n"])
    got2 = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds2, max_hops=2).collect()
    }
    assert got2 == {1: 0, 2: 1, 3: 2, 6: 0, 5: 1, 4: 2}


def test_bfs_hops_directed_respects_edge_direction(spark):
    from zappy_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["i", "j"])
    seeds = spark.createDataFrame([(3,)], ["n"])
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=3, directed=True).collect()
    }
    assert got == {3: 0}  # no in-edges reachable downstream


def test_dsir_weights_separates_target_domain(spark):
    from zappy_spark.operators.sampling import dsir_weights

    # target docs use vocabulary A, raw-only docs vocabulary B; an
    # unlabeled A-looking doc must outweigh an unlabeled B-looking one
    a_text = "alpha beta gamma delta alpha beta gamma delta"
    b_text = "omega psi chi phi omega psi chi phi"
    rows = (
        [(i, a_text, True) for i in range(10)]
        + [(100 + i, b_text, False) for i in range(10)]
        + [(500, a_text, False), (501, b_text, False)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_tgt"])
    w = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_weights(df, "text", "doc_id", "is_tgt").collect()
    }
    assert w[500] > w[501]
    assert w[500] > 0 > w[501]


def test_bigram_nll_rewards_predictable_text(spark):
    from zappy_spark.operators.text import bigram_nll

    # corpus dominated by "a b" transitions; a doc of those is more
    # predictable than one full of one-off transitions
    rows = [(i, "a b a b a b a b") for i in range(5)] + [
        (100, "q r s t u v w x")
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["nll"] for r in bigram_nll(df, "text", "doc_id").collect()
    }
    assert out[0] < out[100]
    n = {
        r["doc_id"]: r["n_bigrams"]
        for r in bigram_nll(df, "text", "doc_id").collect()
    }
    assert n[0] == 7 and n[100] == 7


def test_fuzzy_blocked_pairs_blocking_and_guard(spark):
    from zappy_spark.operators.dedup import fuzzy_blocked_pairs

    rows = [
        (1, "hello world this is a doc about spark"),
        (2, "hello world this is a doc about sparks"),  # 1 edit away
        (3, "goodbye world this is a doc about spark"),  # other block
        (4, "hello moon entirely different text here xyz"),  # same w1,
        # but length bucket/levenshtein differ enough
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["i"], r["j"]): r["dist"]
        for r in fuzzy_blocked_pairs(
            df, "text", "doc_id", max_dist=5
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1
    assert all(3 not in p for p in pairs)  # blocked away by first token
    # flood guard: max_block=1 drops every multi-member block
    assert (
        fuzzy_blocked_pairs(df, "text", "doc_id", max_block=1).count() == 0
    )


def test_mmr_rerank_skips_near_duplicate(spark):
    from zappy_spark.operators.similarity import mmr_rerank

    # candidate 2 is a near-copy of candidate 1; plain top-3 would
    # take both, MMR must skip it in favor of the orthogonal 3
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),
        (3, [0.5, 0.86, 0.0]),
        (4, [0.5, 0.0, 0.86]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = mmr_rerank(
        df, "embedding", "vec_id", [1.0, 0.0, 0.0], shortlist=4, k=3, lam=0.3
    ).collect()
    picked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert picked[0] == 1
    assert 2 not in picked[:2]  # the near-dup is not picked second
    assert set(picked) == {1, 3, 4}


def test_sample_frame_features_exact_fanout(spark):
    from zappy_spark.operators.multimodal import sample_frame_features

    payload = bytes(range(100))  # 100 bytes -> 4 frames of 32,32,32,4
    df = spark.createDataFrame(
        [(1, "video", bytearray(payload))], ["media_id", "kind", "payload"]
    )
    rows = sorted(
        sample_frame_features(df, frame_bytes=32, every_n=2).collect(),
        key=lambda r: r["frame_idx"],
    )
    # frames 0 and 2 sampled
    assert [r["frame_idx"] for r in rows] == [0, 2]
    assert all(r["n_frames"] == 4 for r in rows)
    assert rows[0]["frame_len"] == 32
    assert rows[0]["frame_sum"] == sum(range(32))
    assert rows[1]["frame_sum"] == sum(range(64, 96))


def test_token_budget_select_prefix_greedy(spark):
    from zappy_spark.operators.sampling import token_budget_select

    rows = [
        ("en", 1, 9, 40),  # kept: cum 40
        ("en", 2, 8, 50),  # kept: cum 90
        ("en", 3, 7, 20),  # dropped: cum 110 > 100
        ("en", 4, 6, 5),   # dropped too: greedy is a PREFIX, not knapsack
        ("de", 5, 9, 100),  # kept: exactly at budget
    ]
    df = spark.createDataFrame(rows, ["lang", "doc_id", "quality", "tok"])
    kept = token_budget_select(
        df, ("lang",), "tok", (F.desc("quality"), F.asc("doc_id")), 100
    )
    got = sorted((r["lang"], r["doc_id"], r["_cum_w"]) for r in kept.collect())
    assert got == [("de", 5, 100), ("en", 1, 40), ("en", 2, 90)]


def test_sign_word_exact_packing(spark):
    from zappy_spark.operators.similarity import sign_word

    vec = [1.0, -1.0, 2.0] + [0.0] * 29 + [3.0, -4.0] + [0.0] * 30
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    r = df.select(
        sign_word("embedding", 1, 32).alias("w0"),
        sign_word("embedding", 33, 32).alias("w1"),
    ).first()
    assert r["w0"] == (1 << 0) + (1 << 2)  # dims 1 and 3 positive
    assert r["w1"] == (1 << 0)  # dim 33 positive
    # all-positive slice saturates all 32 bits exactly
    df2 = spark.createDataFrame([(1, [1.0] * 64)], ["vec_id", "embedding"])
    assert df2.select(
        sign_word("embedding", 1, 32).alias("w")
    ).first()["w"] == (1 << 32) - 1


def test_sign_hamming_finds_identical_vector(spark):
    import numpy as np
    from zappy_spark.operators.similarity import sign_hamming_topk

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(50)]
    q = rows[7][1]
    rows.append((999, list(q)))  # exact copy of the query
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sign_hamming_topk(
        df.filter(F.col("vec_id") != 7), "embedding", "vec_id", q
    ).collect()
    top = max(out, key=lambda r: (r["sim"], -r["vec_id"]))
    assert top["vec_id"] == 999 and top["ham"] == 0 and top["sim"] == 1.0


def test_canonical_url_folds_uppercase_scheme_host(spark):
    """The canonical_url docstring example must actually collapse
    (round-7 ADVICE: a case-sensitive scheme pattern left uppercase
    schemes un-canonicalized, masked by the oracle replaying the
    same bug)."""
    from zappy_spark.operators.text import canonical_url

    df = spark.createDataFrame(
        [
            ("HTTP://Example.org/A?utm=1",),
            ("http://example.org/A/",),
            ("HTTPS://S0.Example.ORG/Page/0?utm=7",),
            ("https://s0.example.org/Page/0/",),
            # path case must stay significant (RFC 3986)
            ("http://example.org/a",),
        ],
        ["url"],
    )
    got = [r["c"] for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got[0] == got[1] == "http://example.org/A"
    assert got[2] == got[3] == "https://s0.example.org/Page/0"
    assert got[4] == "http://example.org/a" and got[4] != got[0]


def test_substring_dup_spans_exact_boundaries(spark):
    """Planted maximal span: 'a b c d e f g' (7 tokens) shared
    between two docs must come back as exactly ONE span of length 7
    on each side — boundaries recovered, not just membership (the
    d40 contract vs d17's span counting)."""
    from zappy_spark.operators.dedup import substring_dup_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "x x a b c d e f g x"),
            (3, "z1 z2 z3 z4 z5 z6"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["max_span_tokens"], r["dup_tokens"])
        for r in substring_dup_spans(df, "text", "doc_id", k=5).collect()
    }
    assert out == {1: (1, 7, 7), 2: (1, 7, 7)}


def test_crosslingual_align_finds_planted_pair(spark):
    """A fr doc sharing its three rarest TRIGRAMS with exactly one
    en doc must align to it with a full-overlap (inter == uni) gram
    score; an en doc with a different rare-gram anchor must not
    steal the match. (Gram anchors are the round-7 100× fix — rare
    unigrams flood on small vocabularies.)"""
    from zappy_spark.operators.dedup import crosslingual_align_candidates

    rows = [(i, "c1 c2 c3 c4 c5", "en") for i in range(4)]
    rows += [
        (10, "c1 c2 x1 x2 x3", "en"),
        (20, "c1 c2 x1 x2 x3", "fr"),
        (30, "c1 c2 x1 x2 y1", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = crosslingual_align_candidates(
        df, "text", "doc_id", "lang"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_id"], r["match_id"], r["inter"], r["uni"]) == (
        20,
        10,
        3,
        3,
    )
    # the flood guard: cap 1 drops every anchor bucket with > 1 doc,
    # so nothing aligns
    assert (
        crosslingual_align_candidates(
            df, "text", "doc_id", "lang", max_bucket=1
        ).count()
        == 0
    )


def test_containment_direction_verdicts(spark):
    """Planted asymmetry: source A's grams are a strict subset of
    source C's, so at a 50% threshold the verdict must be a_in_b
    (A contained in C), decided purely by integer comparisons."""
    from zappy_spark.operators.dedup import containment_direction

    df = spark.createDataFrame(
        [("A", "a b c d"), ("C", "a b c d e f g h")],
        ["source", "text"],
    )
    out = containment_direction(
        df, "text", "source", k=3, hi_pct=50
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["grp_a"], r["grp_b"], r["shared"], r["n_a"], r["n_b"]) == (
        "A", "C", 2, 2, 6,
    )
    assert r["verdict"] == "a_in_b"


def test_rag_chunk_overlap_flags_cross_doc_clone(spark):
    """Two docs with identical text must each contribute a redundant
    chunk (cross-doc 5-gram sharing); a unique doc must not — and
    within-doc overlap alone never counts."""
    from zappy_spark.operators.text import rag_chunk_overlap_audit

    clone = " ".join(f"w{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, clone, "sA"), (2, clone, "sA"), (3, uniq, "sB")],
        ["doc_id", "text", "source"],
    )
    out = {
        r["source"]: (r["n_chunks"], r["n_redundant"])
        for r in rag_chunk_overlap_audit(
            df, "text", "doc_id", "source"
        ).collect()
    }
    assert out == {"sA": (2, 2), "sB": (1, 0)}


def test_minhash_agreement_identical_docs(spark):
    """d44's estimator contract at the degenerate point: identical
    docs must agree on all 16 signature slots and have inter == uni;
    disjoint docs must agree on zero slots and have inter == 0."""
    from zappy_spark.queries.pipeline_ops import d44  # noqa: F401
    from zappy_spark.operators.dedup import (
        minhash_signature,
        word_shingles,
    )

    clone = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"v{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, clone), (2, clone), (3, other)], ["doc_id", "text"]
    )
    sig = {
        r["doc_id"]: r["sig"]
        for r in minhash_signature(
            df, "text", "doc_id", num_hashes=16, k=3
        ).collect()
    }
    assert sig[1] == sig[2]
    assert sum(a == b for a, b in zip(sig[1], sig[3])) == 0


def test_png_stats_features_real_decode(spark):
    """The multimodal image path decodes REAL pixels now: PNGs of
    known synthetic arrays go through binary column → mapInPandas →
    pnglite, and the emitted stats equal numpy on the sources."""
    import numpy as np

    from zappy_spark.operators.multimodal import png_stats_features
    from zappy_spark.sources.pnglite import encode_png

    rng = np.random.default_rng(9)
    arrs = {
        1: rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8),
        2: rng.integers(0, 256, size=(3, 8, 1), dtype=np.uint8),
        3: np.full((2, 2, 4), 7, dtype=np.uint8),
    }
    rows = [
        (mid, bytearray(encode_png(a, filter_type=mid % 5)))
        for mid, a in arrs.items()
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in png_stats_features(df).collect()}
    for mid, a in arrs.items():
        r = got[mid]
        assert (r["height"], r["width"], r["channels"]) == a.shape
        assert abs(r["px_mean"] - a.mean()) < 1e-4
        assert abs(r["px_std"] - a.std()) < 1e-4


def test_decode_image_png_real_nonpng_loud(spark):
    import numpy as np
    import pytest as _pytest

    from zappy_spark.operators.multimodal import decode_image
    from zappy_spark.sources.pnglite import encode_png

    a = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    assert (decode_image(encode_png(a)) == a).all()
    with _pytest.raises(NotImplementedError, match="compressed formats"):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")


def test_wav_stats_features_real_decode(spark):
    """The multimodal audio path decodes REAL samples: PCM WAVs of
    known arrays through binary column → mapInPandas → wavlite, and
    the emitted stats equal numpy on the sources."""
    import numpy as np

    from zappy_spark.operators.multimodal import wav_stats_features
    from zappy_spark.sources.wavlite import encode_wav

    rng = np.random.default_rng(21)
    clips = {
        1: (rng.integers(-30000, 30000, size=(800, 2), dtype=np.int16), 16000),
        2: (np.full(400, 1000, dtype=np.int16), 8000),
    }
    rows = [
        (mid, bytearray(encode_wav(a, rate)))
        for mid, (a, rate) in clips.items()
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in wav_stats_features(df).collect()}
    for mid, (a, rate) in clips.items():
        r = got[mid]
        a2 = a if a.ndim == 2 else a[:, None]
        assert r["sample_rate"] == rate
        assert r["n_frames"] == a2.shape[0]
        assert r["n_channels"] == a2.shape[1]
        assert r["duration_ms"] == a2.shape[0] * 1000 // rate
        x = a2.astype(np.float64)
        assert abs(r["rms"] - np.sqrt((x * x).mean())) < 1e-2
        assert r["peak"] == int(np.abs(a2).max())


def test_resize_png_images_real_nearest_neighbor(spark):
    """Real PNG resize: decoded pixels resampled nearest-neighbor
    must equal numpy's index arithmetic on the source array, and the
    payload is exactly h*w*c bytes (the training-loader contract)."""
    import numpy as np

    from zappy_spark.operators.multimodal import resize_png_images
    from zappy_spark.sources.pnglite import encode_png

    rng = np.random.default_rng(13)
    a = rng.integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(a, filter_type=2)))],
        "media_id long, payload binary",
    )
    r = resize_png_images(df, 4, 3).first()
    assert (r["height"], r["width"], r["channels"]) == (4, 3, 3)
    got = np.frombuffer(bytes(r["payload"]), dtype=np.uint8).reshape(4, 3, 3)
    ys = (np.arange(4) * 8) // 4
    xs = (np.arange(3) * 6) // 3
    assert (got == a[ys][:, xs]).all()


def test_tokenize_convention_agrees_on_repeated_spaces(spark):
    """Round-8 ADVICE pin: d42/t30 tokenize with filter_empty=True,
    matching their DuckDB oracles' list_filter(string_split(...),
    x -> x<>''). A doc with consecutive/leading/trailing spaces —
    absent from every testdata SF, which is why the mismatch was
    latent — must produce the SAME gram multiset on both engines."""
    import duckdb

    from zappy_spark.operators.dedup import containment_direction
    from zappy_spark.operators.text import freq_of_freqs

    rows = [
        (1, "A", " a  b c   d "),
        (2, "B", "a b c d e"),
        (3, "B", "x  y   z w"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id INT, source TEXT, text TEXT)"
    )
    con.executemany("INSERT INTO documents VALUES (?,?,?)", rows)

    # t30 twin: Good-Turing spectrum over filtered 3-grams
    got = {
        r["freq_class"]: (r["n_types"], r["mass"])
        for r in freq_of_freqs(df, "text", k=3).collect()
    }
    want = {
        fc: (nt, mass)
        for fc, nt, mass in con.execute(
            "WITH tk AS (SELECT list_filter(string_split(text,' '), "
            "x -> x<>'') tl FROM documents), "
            "g AS (SELECT array_to_string(tl[CAST(u.i AS INT):"
            "CAST(u.i+2 AS INT)], ' ') gm "
            "FROM tk, UNNEST(range(1, len(tl)-1)) AS u(i) "
            "WHERE len(tl) >= 3), "
            "c AS (SELECT gm, COUNT(*) c FROM g GROUP BY gm) "
            "SELECT CAST(LEAST(c, 11) AS INT), COUNT(*), "
            "CAST(SUM(c) AS BIGINT) FROM c GROUP BY 1"
        ).fetchall()
    }
    assert got == want

    # d42 twin: shared/total distinct grams per source pair
    got_d = {
        (r["grp_a"], r["grp_b"]): (r["shared"], r["n_a"], r["n_b"])
        for r in containment_direction(
            df, "text", "source", k=3, hi_pct=10
        ).collect()
    }
    want_d = {
        (a, b): (s, na, nb)
        for a, b, s, na, nb in con.execute(
            "WITH tk AS (SELECT source, "
            "list_filter(string_split(text,' '), x -> x<>'') tl "
            "FROM documents), "
            "g AS (SELECT DISTINCT source, "
            "array_to_string(tl[CAST(u.i AS INT):CAST(u.i+2 AS INT)], ' ') gm "
            "FROM tk, UNNEST(range(1, len(tl)-1)) AS u(i) "
            "WHERE len(tl) >= 3), "
            "tot AS (SELECT source, COUNT(*) n FROM g GROUP BY source), "
            "h AS (SELECT a.source ga, b.source gb, COUNT(*) s FROM g a "
            "JOIN g b ON a.gm = b.gm AND a.source < b.source GROUP BY 1,2) "
            "SELECT ga, gb, s, ta.n, tb.n FROM h "
            "JOIN tot ta ON ta.source = ga JOIN tot tb ON tb.source = gb"
        ).fetchall()
    }
    assert got_d == want_d
    con.close()


def test_gif_attest_features_matches_formula(spark):
    """The m04 kernel: fabricated palette image → REAL encode_gif →
    decode_gif → integer stats must equal the closed-form arithmetic
    (what the DuckDB oracle replays)."""
    import numpy as np

    from zappy_spark.operators.multimodal import gif_attest_features

    ids = [0, 1, 7, 41]
    df = spark.createDataFrame([(i,) for i in ids], "media_id long")
    got = {r["media_id"]: r for r in gif_attest_features(df).collect()}
    yy, xx = np.mgrid[0:8, 0:8]
    for mid in ids:
        idx = (mid + 3 * yy + 5 * xx) % 16
        r = got[mid]
        assert r["n_px"] == 64
        assert r["r_sum"] == int(((17 * idx) % 256).sum())
        assert r["g_sum"] == int(((idx * idx + 7) % 256).sum())
        assert r["b_sum"] == int(((29 * idx + mid) % 256).sum())
        assert r["c0"] == int((idx == 0).sum())


def test_wav_attest_features_matches_formula(spark):
    """The m05 kernel: fabricated square wave → REAL encode_wav →
    decode_wav → framing DSP must equal a brute-force numpy replay
    of the waveform (independent of the closed-form divisor
    arithmetic the DuckDB oracle uses — this test triangulates the
    third way: literal per-sample simulation)."""
    import numpy as np

    from zappy_spark.operators.multimodal import wav_attest_features

    ids = [0, 1, 12, 13, 64, 99]
    df = spark.createDataFrame([(i,) for i in ids], "media_id long")
    got = {r["media_id"]: r for r in wav_attest_features(df).collect()}
    for mid in ids:
        h = 4 + mid % 13
        a = 1000 + 37 * mid
        n = 800 + (mid % 7) * 160
        na = n - (mid % 5) * 160
        t = np.arange(n)
        x = np.where((t // h) % 2 == 0, a, -a).astype(np.int64)
        x[na:] = 0
        fr = x.reshape(n // 160, 160)
        r = got[mid]
        assert r["sample_rate"] == 8000 + (mid % 3) * 4000
        assert r["n_frames"] == n // 160
        assert r["zc_total"] == int((fr[:, 1:] * fr[:, :-1] < 0).sum())
        assert r["energy"] == int((x * x).sum()) == a * a * na
        assert r["active_frames"] == int(
            (np.abs(fr).max(axis=1) > 0).sum()
        )


def test_mel_filterbank_geometry():
    """m08's reduction matrix: HTK triangles with complementary
    adjacent slopes — every interior rfft bin's weights sum to
    exactly 1 across the bank (rising edge of filter m+1 = 1 −
    falling edge of m by construction), filter supports are
    contiguous, and the panel's planted constants hold: bin 40
    (2000 Hz) weighted 0.796/0.204 across filters 8/9, bin 80
    (4000 Hz = fmax) on the last falling edge with weight exactly
    0."""
    import numpy as np

    from zappy_spark.operators.multimodal import mel_filterbank

    w = mel_filterbank()
    assert w.shape == (12, 81)
    # complementary slopes hold between the FIRST apex (~107 Hz,
    # bin 3) and the LAST apex (~3352 Hz, bin 67): there each bin
    # sits on filter m's falling edge and filter m+1's rising edge,
    # which sum to 1 by construction; past the last apex only the
    # final falling edge remains, tapering to exactly 0 at fmax.
    col = w.sum(axis=0)
    assert np.allclose(col[np.arange(3, 68)], 1.0, atol=1e-12)
    assert np.all(np.diff(col[68:]) < 0)  # monotone final taper
    assert w[:, 80].max() == 0.0  # Nyquist on the last falling edge
    nz40 = np.nonzero(w[:, 40])[0]
    assert list(nz40) == [8, 9]
    assert abs(w[8, 40] - 0.796431) < 1e-4
    for m in range(12):
        sup = np.nonzero(w[m])[0]
        assert np.array_equal(sup, np.arange(sup[0], sup[-1] + 1))


def test_mel_attest_features_matches_simulation(spark):
    """The m08 kernel: fabricated two-tone signal → REAL encode_wav
    → decode_wav → framed FFT power spectrum → mel reduction must
    equal a brute-force numpy replay AND the closed forms the
    DuckDB oracle uses (Parseval total, single-bin peak) — the m05
    triangulation applied to the spectral layer."""
    import numpy as np

    from zappy_spark.operators.multimodal import (
        mel_attest_features,
        mel_filterbank,
    )

    ids = [0, 1, 2, 13, 64, 99]
    df = spark.createDataFrame([(i,) for i in ids], "media_id long")
    got = {r["media_id"]: r for r in mel_attest_features(df).collect()}
    w = mel_filterbank()
    for mid in ids:
        a = 1000 + 4 * mid
        b = 2 * a if mid % 2 else a // 4
        n = 800 + (mid % 7) * 160
        x = np.tile([a + b, -b, b - a, -b], n // 4).astype(np.float64)
        fr = x.reshape(n // 160, 160)
        spec = np.fft.fft(fr, axis=1)
        power = spec.real**2 + spec.imag**2
        half = power[:, :81].sum(axis=0)
        r = got[mid]
        nf = n // 160
        assert r["n_frames"] == nf
        assert r["peak_bin"] == int(half.argmax()) == (80 if mid % 2 else 40)
        # single-bin closed form, exact
        assert r["peak_power"] == nf * (
            (320 * a) ** 2 if mid % 2 else (80 * a) ** 2
        )
        # Parseval closed form, exact after the deterministic round
        assert r["specsum"] == nf * 160 * (80 * a * a + 160 * b * b)
        mel_e = w @ half
        assert r["mel_argmax"] == int(mel_e.argmax()) == 8
        assert (r["mel_lo"], r["mel_hi"]) == (32, 46)
        assert r["mel_n_filters"] == 12


def test_image_hash_bands_and_hamming_pairs(spark):
    """d45 pipeline on planted data: a near-identical image pair
    (one pixel nudged) must surface with a small Hamming distance
    through REAL PNG bytes; an unrelated image must not pair. The
    band values are checked bit-for-bit against numpy."""
    import numpy as np

    from zappy_spark.operators.dedup import hamming_candidate_pairs
    from zappy_spark.operators.multimodal import image_hash_bands
    from zappy_spark.sources.pnglite import encode_png

    rng = np.random.default_rng(23)
    base = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    near = base.copy()
    near[0, 0] = 255 - near[0, 0]  # flip one pixel hard
    far = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_png(base[:, :, None]))),
        (2, bytearray(encode_png(near[:, :, None]))),
        (3, bytearray(encode_png(far[:, :, None]))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = image_hash_bands(df).collect()
    byid = {r["media_id"]: r for r in hashes}

    def ref_bands(px):
        flat = px.astype(np.int64).reshape(-1)
        bits = (flat * 64 > flat.sum()).astype(np.int64)
        return [
            int((bits[b * 16 : b * 16 + 16] << np.arange(16)).sum())
            for b in range(4)
        ]

    def ref_dbands(px):
        g = px.astype(np.int64)
        bits = (g[:, 1:] > g[:, :-1]).astype(np.int64).reshape(-1)
        return [
            int((bits[b * 14 : b * 14 + 14] << np.arange(14)).sum())
            for b in range(4)
        ]

    for mid, px in ((1, base), (2, near), (3, far)):
        assert [byid[mid][f"a{b}"] for b in range(4)] == ref_bands(px)
        assert [byid[mid][f"d{b}"] for b in range(4)] == ref_dbands(px)

    pairs = hamming_candidate_pairs(
        image_hash_bands(df), "media_id", max_ham=3
    ).collect()
    got = {(r["i"], r["j"]): r["hamming"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] <= 3
    assert all(j != 3 and i != 3 for i, j in got)

    # dHash banding is a first-class blocking key too: the same
    # near-pair must surface (gradient signs barely move on a
    # one-pixel nudge) and the unrelated image must not
    dpairs = hamming_candidate_pairs(
        image_hash_bands(df),
        "media_id",
        band_cols=("d0", "d1", "d2", "d3"),
        max_ham=6,
    ).collect()
    dgot = {(r["i"], r["j"]) for r in dpairs}
    assert (1, 2) in dgot
    assert all(j != 3 and i != 3 for i, j in dgot)

    # flood cap: with max_bucket=1 every bucket holding both images
    # is dropped, so nothing pairs
    assert (
        hamming_candidate_pairs(
            image_hash_bands(df), "media_id", max_ham=3, max_bucket=1
        ).count()
        == 0
    )


def test_embedding_png_images_quantization(spark):
    """The quantize-to-PNG kernel: payload decodes back to exactly
    clamp(floor((x+1)*127.5), 0, 255) of the float32 input."""
    import numpy as np

    from zappy_spark.operators.multimodal import embedding_png_images
    from zappy_spark.sources.pnglite import decode_png

    vec = (np.linspace(-1.3, 1.3, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(5, [float(x) for x in vec])],
        "vec_id long, embedding array<float>",
    )
    r = embedding_png_images(df).first()
    img, meta = decode_png(bytes(r["payload"]))
    assert (meta["width"], meta["height"]) == (8, 8)
    want = np.clip(
        np.floor((vec.astype(np.float64) + 1.0) * 127.5), 0, 255
    ).astype(np.uint8)
    assert (img.reshape(-1) == want).all()


def test_charset_class_counts_multiscript(spark):
    """Planted multiscript texts: the Unicode range classes must
    count exactly what a Python reference counts (the corpus entry
    uses the portable ASCII subset; this pins the full ranges)."""
    rows = [
        (1, "hello мир 42!"),          # latin + cyrillic + digit
        (2, "Ελλάδα και 中文 かな"),     # greek + cjk + kana
        (3, "مرحبا abc"),              # arabic + latin
        (4, "{\"k\": 69}"),            # the events.props shape
    ]
    df = spark.createDataFrame(rows, ["rid", "txt"])
    from zappy_spark.operators.text import (
        CHARSET_CLASSES,
        charset_class_counts,
    )

    got = {r["rid"]: r for r in charset_class_counts(df, "txt").collect()}

    import re

    ranges = {
        "latin": "[A-Za-z]",
        "digit": "[0-9]",
        "space": "[ \t\r\n]",
        "cyrillic": "[Ѐ-ӿ]",
        "greek": "[Ͱ-Ͽ]",
        "arabic": "[؀-ۿ]",
        "cjk": "[一-鿿぀-ヿ가-힯]",
    }
    assert [n for n, _ in CHARSET_CLASSES] == list(ranges)
    for rid, txt in rows:
        r = got[rid]
        assert r["n_total"] == len(txt)
        covered = 0
        for name, pat in ranges.items():
            n = len(re.findall(pat, txt))
            assert r[f"n_{name}"] == n, (rid, name)
            covered += n
        assert r["n_other"] == len(txt) - covered


def test_block_dedup_ledger_keep_first(spark):
    """Planted clone blocks: doc 1 owns the first occurrence of a
    16-token block; docs 2 and 3 repeat it and must have it removed;
    a within-doc repeat of a block is removed too (keep-first is
    global, not per-doc); unique blocks are never removed."""
    from zappy_spark.operators.dedup import block_dedup_ledger

    blk = " ".join(f"w{i}" for i in range(16))
    uniq = " ".join(f"u{i}" for i in range(16))
    rows = [
        (1, blk + " " + uniq),       # first occurrence + unique
        (2, blk),                    # cross-doc clone -> removed
        (3, blk + " " + blk),        # two copies, both removed
        (4, "short tail"),           # 2-token block, unique
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_blocks"], r["n_removed"], r["removed_tokens"])
        for r in block_dedup_ledger(df, "text", "doc_id", 16).collect()
    }
    assert got[1] == (2, 0, 0)
    assert got[2] == (1, 1, 16)
    assert got[3] == (2, 2, 32)
    assert got[4] == (1, 0, 0)


def test_pmi_collocations_planted_pair(spark):
    """A planted always-together pair must outrank a frequent but
    independent pair, and the counts must be exact."""
    from zappy_spark.operators.text import pmi_collocations

    rows = []
    # "rare gem" appears 5 times, always together
    for i in range(5):
        rows.append((i, "rare gem filler%d common word" % i))
    # "common word" appears everywhere (high counts, low association)
    for i in range(5, 30):
        rows.append((i, "common word other%d common stuff" % i))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_collocations(df, "text", min_count=5, top_k=10).collect()
    assert out[0]["bigram"] == "rare gem"
    assert (out[0]["n_ab"], out[0]["n_a"], out[0]["n_b"]) == (5, 5, 5)
    ranks = {r["bigram"]: i for i, r in enumerate(out)}
    assert ranks["rare gem"] < ranks["common word"]


def test_dedup_cluster_ledger_planted_cluster(spark):
    """d50's flow on a planted transitive cluster: docs 0 and 2
    share spans with doc 1 but NOT directly with each other if only
    pairwise — all three must land in ONE component, the longest doc
    is kept, and the ledger arithmetic is exact. Doc 3 is a
    singleton and must not appear."""
    from zappy_spark.operators.dedup import dedup_cluster_ledger

    base = "a b c d e f g h i"           # spans [a b c][d e f][g h i]
    rows = [
        (0, base, 17),
        (1, base + " extra tail words x", 37),   # longest -> kept
        (2, base + " other suffix", 30),
        (3, "q r s t u v w x y", 17),            # unrelated singleton
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    out = dedup_cluster_ledger(
        df, "text", "doc_id", "n_chars", span=3, min_shared=3, max_df=8
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["component"], r["n_docs"], r["kept_doc_id"],
            r["kept_chars"], r["chars_removed"]) == (0, 3, 1, 37, 47)


def test_synth_scale_planting_feeds_d50_chains(spark):
    """Round-10, VERDICT r9 item 2: the synth-fixture generator's
    planted replicas must form TRANSITIVE span-dup chains that d50
    actually clusters — per planted base doc, replicas 1/2/3 become
    A~B~C (A and C share nothing directly), ONE 3-doc component,
    keep-best = B (the longest), chars_removed = |A| + |C|. Runs
    the real generator code path (scripts/synth_scale.perturb) on a
    miniature base corpus with the real key-shift arithmetic."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    from scripts.synth_scale import PLANT_EVERY, perturb

    from zappy_spark.operators.dedup import dedup_cluster_ledger

    # two planted base docs (0 and PLANT_EVERY) + one unplanted
    rows = [
        (0, "organic words here", "en", "web", 18),
        (PLANT_EVERY, "more organic text", "en", "web", 17),
        (7, "never planted doc", "en", "web", 17),
    ]
    base = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    span = PLANT_EVERY + 1  # max(doc_id) + 1, as main() computes
    parts = []
    for i in range(5):
        p = perturb("documents", base, i)
        parts.append(p.withColumn("doc_id", F.col("doc_id") + i * span))
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    out = {
        r["component"]: r
        for r in dedup_cluster_ledger(
            corpus, "text", "doc_id", "n_chars",
            span=3, min_shared=3, max_df=8,
        ).collect()
    }
    # one 3-doc cluster per planted base doc, nothing else
    assert len(out) == 2
    for d in (0, PLANT_EVERY):
        a_id, b_id, c_id = d + span, d + 2 * span, d + 3 * span
        r = out[a_id]  # component label = min doc_id in the chain
        assert r["n_docs"] == 3
        assert r["kept_doc_id"] == b_id  # B = x+y blocks, longest
        sizes = {
            row["doc_id"]: row["n_chars"]
            for row in corpus.filter(
                F.col("doc_id").isin([a_id, b_id, c_id])
            ).collect()
        }
        assert r["kept_chars"] == sizes[b_id]
        assert r["chars_removed"] == sizes[a_id] + sizes[c_id]
        # n_chars invariant holds on planted rows
        texts = {
            row["doc_id"]: row["text"]
            for row in corpus.filter(
                F.col("doc_id").isin([a_id, b_id, c_id])
            ).collect()
        }
        assert all(len(texts[k]) == sizes[k] for k in texts)


def test_normalize_unicode_lite_hand_cases(spark):
    """t42's fold table on explicit codepoints: quotes/dashes fold,
    fullwidth folds, zero-width/BOM drop, ellipsis/ligatures expand,
    combining accents pass through (documented scope), and DuckDB's
    translate agrees byte-for-byte."""
    import duckdb
    from pyspark.sql import functions as F

    from zappy_spark.operators.text import normalize_unicode_lite
    from zappy_spark.queries.pipeline_ops import _t42_oracle  # noqa: F401

    cases = {
        "\u201cq\u201d \u2018s\u2019": '"q" \'s\'',
        "a\u2013b\u2014c": "a-b-c",
        "\uff28\uff49 \uff10\uff11": "Hi 01",
        "x\u200by\u200cz\u200dw\ufeff!": "xyzw!",
        "wait\u2026 \ufb01t \ufb02y": "wait... fit fly",
        "nb\u00a0sp": "nb sp",
        "caf\u00e9 stays": "caf\u00e9 stays",  # outside scope: untouched
    }
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(cases)], ["i", "s"]
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", normalize_unicode_lite(F.col("s")).alias("c")
        ).collect()
    }
    con = duckdb.connect()
    from zappy_spark.operators.text import (
        _UNI_FROM,
        _UNI_REPLACES,
        _UNI_TO,
    )

    def q(x):
        return "'" + x.replace("'", "''") + "'"

    expr = f"translate(?, {q(_UNI_FROM)}, {q(_UNI_TO)})"
    for a, b in _UNI_REPLACES:
        expr = f"replace({expr}, {q(a)}, {q(b)})"
    for i, (src, want) in enumerate(cases.items()):
        assert got[i] == want, (src, got[i], want)
        dgot = con.execute(f"SELECT {expr}", [src]).fetchone()[0]
        assert dgot == want, (src, dgot, want)


def test_sentence_stats_hand_counts(spark):
    """t40's per-doc expressions on hand texts: run counting
    (non-overlapping [.!?]+), the <3-sentence flag, terminal-end
    with trailing spaces."""
    from zappy_spark.operators.text import sentence_stats

    rows = [
        (0, "g", "One. Two! Three? tail"),        # 3 sents, no term end
        (1, "g", "Only one sentence."),           # 1 sent, term end
        (2, "g", "A!! B?? C.. D. "),              # 4 runs, term end+space
        (3, "g", "no punctuation at all"),        # 0 sents
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "txt"])
    out = sentence_stats(df, "txt", "src").collect()[0]
    assert out["n_docs"] == 4
    assert out["n_sentences"] == 3 + 1 + 4 + 0
    assert out["n_lt3_sent"] == 2  # docs 1 and 3
    assert out["n_terminal_end"] == 2  # docs 1 and 2
    assert out["n_words"] == 4 + 3 + 4 + 4


def test_stopword_coverage_hand_counts(spark):
    """t41's coverage on explicit lists: exact stopword counts and
    the cross-multiplied <5% flag (19 tokens 1 stop = 5.26% -> not
    low; 21 tokens 1 stop = 4.76% -> low)."""
    from zappy_spark.operators.text import stopword_coverage

    stop = {"en": ("the",), "xx": ("zz",)}
    rows = [
        (0, "en", "the " + "w " * 18),   # 19 toks, 1 stop: not low
        (1, "en", "the " + "w " * 20),   # 21 toks, 1 stop: low
        (2, "qq", "the the the"),        # unknown lang: 0 stops, low
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "txt"])
    got = {
        r["lang"]: (r["n_docs"], r["n_tokens"], r["n_stop_tokens"],
                    r["n_low_coverage_docs"])
        for r in stopword_coverage(df, "txt", "lang", stopwords=stop).collect()
    }
    assert got["en"] == (2, 40, 2, 1)
    assert got["qq"] == (3 - 2, 3, 0, 1)


def test_registrable_domain_psl_rules(spark):
    """d49's eTLD+1 CASE: multi-label suffixes beat single-label
    ones, a bare public suffix yields NULL (the PSL stop rule — no
    fall-through to a shorter suffix), unknown TLDs yield NULL; and
    the generated DuckDB CASE agrees byte-for-byte."""
    import duckdb
    from pyspark.sql import functions as F

    from zappy_spark.operators.text import registrable_domain
    from zappy_spark.queries.pipeline_ops import _regdom_sql

    cases = {
        "a.s3.co.uk": "s3.co.uk",
        "cdn7.github.io": "cdn7.github.io",
        "www.site.com": "site.com",
        "github.io": None,     # bare suffix: NULL, not 'github.io'
        "co.uk": None,
        "plain": None,
        "x.dev": "x.dev",
        "deep.a.b.com.au": "b.com.au",
    }
    df = spark.createDataFrame([(h,) for h in cases], ["h"])
    got = {
        r["h"]: r["r"]
        for r in df.select("h", registrable_domain("h").alias("r")).collect()
    }
    assert got == cases
    con = duckdb.connect()
    for h, want in cases.items():
        dgot = con.execute(f"SELECT {_regdom_sql('?')}", [h]).fetchone()[0]
        assert dgot == want, (h, dgot, want)


def test_mmr_rerank_batch_prefers_diversity(spark):
    """v27's batch MMR on a hand case: the #2-by-relevance candidate
    is an exact duplicate of #1, so at λ=0.7/μ=0.3 the diverse
    orthogonal candidate must take rank 2 and the duplicate drops to
    rank 3 — per query, across a 2-query batch."""
    from zappy_spark.operators.similarity import mmr_rerank_batch

    rows = []
    for q in (10, 20):
        rows += [
            (q, 1, [1.0, 0.0], 0.9),   # top relevance
            (q, 2, [1.0, 0.0], 0.89),  # duplicate of #1
            (q, 3, [0.0, 1.0], 0.6),   # diverse
        ]
    df = spark.createDataFrame(rows, ["qid", "cid", "v", "rel"])
    out = mmr_rerank_batch(
        df, "qid", "cid", "v", "rel", k=3, lam=0.7, mu=0.3
    ).collect()
    got = {(r["qid"], r["rnk"]): r["cid"] for r in out}
    for q in (10, 20):
        # rank2: dup scores 0.7*0.89-0.3*1=0.323 < diverse 0.42
        assert (got[(q, 1)], got[(q, 2)], got[(q, 3)]) == (1, 3, 2)


def test_image_patch_features_matches_direct_slices(spark):
    """m06's reshape-transpose patch grid must equal direct 2-D
    slicing of the fabricated image, per patch, for several ids —
    and the values must survive the real PNG round-trip."""
    import numpy as np

    from zappy_spark.operators.multimodal import image_patch_features

    df = spark.createDataFrame([(7,), (200,)], ["media_id"])
    got = {
        (r["media_id"], r["patch_y"], r["patch_x"]): (
            r["px_sum"], r["px_min"], r["px_max"])
        for r in image_patch_features(df, "media_id", patch=8).collect()
    }
    yy, xx = np.mgrid[0:16, 0:16]
    for mid in (7, 200):
        img = ((3 * mid + 5 * yy + 13 * xx) % 256).astype(np.int64)
        for py in range(2):
            for px in range(2):
                sl = img[py * 8:(py + 1) * 8, px * 8:(px + 1) * 8]
                assert got[(mid, py, px)] == (
                    int(sl.sum()), int(sl.min()), int(sl.max())
                ), (mid, py, px)
    assert len(got) == 8


def test_strip_markup_organic_patterns(spark):
    """t38's chain on organic-crawl edge shapes: nested tags,
    attributes with '>'-free bodies, multi-line script/style with
    markup-looking content inside, comments spanning lines, entity
    decode ordering (&amp;lt; must become the literal text '&lt;',
    never re-parsed as a tag), unclosed tags and unknown entities
    surviving verbatim, and whitespace collapse."""
    from pyspark.sql import functions as F

    from zappy_spark.operators.text import strip_markup

    cases = [
        # nested + attributes
        ('<div class="a"><p><b>deep</b> text</p></div>', "deep text"),
        # script body contains fake tags and comparison operators
        ('before<script>\nif (a < b && c > d) { x("<p>"); }\n'
         "</script>after", "before after"),
        # style block + CDATA-ish comment across lines
        ("<style>\n.a { content: '<'; }\n</style>x<!-- multi\n"
         "line\ncomment -->y", "x y"),
        # entity order: &amp;lt; is LITERAL '&lt;' text, not a tag
        ("a &amp;lt;b&amp;gt; c", "a &lt;b&gt; c"),
        # decoded &lt;tag&gt; stays as visible text, not re-stripped
        ("say &lt;hi&gt; &amp; wave", 'say <hi> & wave'),
        # full entity set
        ("&quot;q&quot; &#39;s&#39; &#34;d&#34; &apos;a&apos;&nbsp;.",
         "\"q\" 's' \"d\" 'a' ."),
        # unclosed tag at end survives; unknown entity survives
        ("tail <div class=", "tail <div class="),
        ("dash &#x2019; stays", "dash &#x2019; stays"),
        # SCRIPT case-insensitive; whitespace collapse + trim
        ("  <SCRIPT a=b>x</SCRIPT>  hi \t there\r\n ", "hi there"),
        # empty tag '<>' is a (degenerate) tag span
        ("a<>b", "a b"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], ["i", "s"]
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", strip_markup(F.col("s")).alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_strip_markup_duckdb_parity_on_edges(spark):
    """The SQL twin (_strip_markup_sql) must agree with the Spark
    chain byte-for-byte on the same organic edge shapes — this is
    what makes t38's oracle a replay rather than a reimplementation."""
    import duckdb
    from pyspark.sql import functions as F

    from zappy_spark.operators.text import strip_markup
    from zappy_spark.queries.pipeline_ops import _strip_markup_sql

    texts = [
        '<div class="a"><p><b>deep</b> text</p></div>',
        'x<script>\na < b; "</p>"\n</script>y<!-- c\nc -->z',
        "a &amp;lt;b&amp;gt; c &quot; &#39; &nbsp;",
        "tail <div class= &#x2019; <STYLE>s</STYLE>",
        "  spaces \t tabs \r\n lines  ",
    ]
    df = spark.createDataFrame([(s,) for s in texts], ["s"])
    spark_out = [
        r["c"] for r in df.select(strip_markup(F.col("s")).alias("c")).collect()
    ]
    con = duckdb.connect()
    for s, want in zip(texts, spark_out):
        got = con.execute(
            f"SELECT {_strip_markup_sql('?')}", [s]
        ).fetchone()[0]
        assert got == want, (s, got, want)


def test_bpe_train_merges_hand_schedule(spark):
    """t37's merge loop on a corpus whose BPE schedule is derivable
    by hand, including the overlap-counting and greedy-application
    subtleties (Sennrich semantics: pair counts include overlapping
    occurrences; application is left-to-right non-overlapping)."""
    from zappy_spark.operators.text import bpe_train_merges

    # vocab: 'aaa' ×4 (pair (a,a) counted 2× per word = 8),
    #        'abab' ×3 ((a,b)=6, (b,a)=3), 'Zed!' filtered out
    rows = [(i, "aaa abab" if i < 3 else "aaa Zed!") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bpe_train_merges(df, "text", n_merges=3).collect()
    assert [(r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_n"])
            for r in out] == [
        # step 1: (a,a)=8 beats (a,b)=6; greedy turns aaa -> [aa, a]
        (1, "a", "a", "aa", 8),
        # step 2: (a,b)=6 — merging abab -> [ab, ab]
        (2, "a", "b", "ab", 6),
        # step 3: remaining pairs all appear in every surviving word
        # once per word: (aa,a)=4 from 'aaa'; (ab,ab)=3 from 'abab';
        # tie-break is count first, so (aa,a) wins
        (3, "aa", "a", "aaa", 4),
    ]
    # plan hygiene: each step's argmax is a TakeOrderedAndProject —
    # no global Sort feeds the limit
    from zappy_spark.operators.text import _bpe_base_vocab, _bpe_pair_top1

    plan = _bpe_pair_top1(_bpe_base_vocab(df, "text"))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bpe_segment_stats_hand_counts(spark):
    """t39's audit on the hand-schedule corpus: with the 3 merges
    from test_bpe_train_merges_hand_schedule, 'aaa' segments to one
    subword, 'abab' to two, and 'zed!' is out-of-scope."""
    from zappy_spark.operators.text import bpe_segment_stats

    rows = [(i, "aaa abab" if i < 3 else "aaa Zed!", i % 2)
            for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "grp"])
    got = {
        r["grp"]: (r["n_words"], r["n_chars"], r["n_subwords"],
                   r["n_oov_words"])
        for r in bpe_segment_stats(df, "text", "grp", n_merges=3).collect()
    }
    # grp 0 = docs 0,2: (aaa abab)x2 -> 4 words, 14 chars, 6 subwords
    assert got[0] == (4, 14, 6, 0)
    # grp 1 = docs 1,3: aaa abab aaa zed! -> 3 in-scope, 1 oov
    assert got[1] == (3, 10, 4, 1)


def test_bpe_segment_degenerate_corpus_oracle_parity(spark, tmp_path):
    """Round-10 ADVICE pin: a corpus with FEWER than n_merges
    trainable pairs used to empty the whole t39 oracle (empty b_i
    in the m cross join) while the Spark operator breaks out of the
    merge loop early and still segments — an engine divergence on
    degenerate corpora. The identity-fallback merge columns
    ('#','#' never matches the alnum vocab) must make both engines
    agree."""
    import duckdb
    import pandas as pd

    from zappy_spark.queries.pipeline_ops import QUERIES, _t39_oracle

    # vocab {ab, cd}: merge 1 = (a,b) n=3, merge 2 = (c,d) n=1,
    # then NO adjacent pairs remain -> b3..b6 empty
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "source": ["s1", "s1", "s2"],
            "text": ["ab ab", "ab cd", "Zed! ab"],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    got = {
        r["source"]: (
            r["n_words"], r["n_chars"], r["n_subwords"], r["n_oov_words"]
        )
        for r in QUERIES["t39_bpe_segment"](spark, str(tmp_path)).collect()
    }
    # after both merges every in-scope word is ONE subword
    assert got["s1"] == (4, 8, 4, 0)
    assert got["s2"] == (1, 2, 1, 1)  # 'zed!' out of scope
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    orc = {
        r[0]: tuple(r[1:]) for r in con.execute(_t39_oracle(6)).fetchall()
    }
    assert orc == got


def test_bpe_merge_application_greedy(spark):
    """The '|l||r|' string-replace form IS greedy left-to-right BPE:
    'babab' with merge (b,a) yields [ba, ba, b], never re-merging
    into the replaced text, and symbol boundaries can't be crossed
    (pair (b,a) must not fire inside symbols ['b','ab'])."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("|b||a||b||a||b|",), ("|b||ab|",)], ["s"]
    )
    got = [
        r["m"]
        for r in df.select(
            F.replace(F.col("s"), F.lit("|b||a|"), F.lit("|ba|")).alias("m")
        ).collect()
    ]
    assert got == ["|ba||ba||b|", "|b||ab|"]


def test_kappa_agreement_hand_contingency(spark):
    """t35's aggregate on a hand-built contingency: 10 rows, two
    3-class raters, kappa checked against the textbook formula
    computed by hand. Group g2 is perfect agreement (kappa = 1)."""
    from zappy_spark.operators.diagnostics import kappa_agreement

    # g1: a=[0,0,0,1,1,2,2,2,1,0], b=[0,1,0,1,2,2,2,0,1,0]
    a1 = [0, 0, 0, 1, 1, 2, 2, 2, 1, 0]
    b1 = [0, 1, 0, 1, 2, 2, 2, 0, 1, 0]
    rows = [("g1", x, y) for x, y in zip(a1, b1)]
    rows += [("g2", k % 3, k % 3) for k in range(6)]
    df = spark.createDataFrame(rows, ["g", "a", "b"])
    got = {
        r["g"]: r
        for r in kappa_agreement(df, "g", "a", "b", 3).collect()
    }
    # g1 by hand: n=10, agree=7; marginals a=(4,3,3), b=(4,3,3)
    # sum rc = 16+9+9 = 34; num = 70-34 = 36; den = 100-34 = 66
    r = got["g1"]
    assert (r["n"], r["n_agree"]) == (10, 7)
    assert (r["kappa_num"], r["kappa_den"]) == (36, 66)
    # g2: n=6, agree=6, marginals (2,2,2) each, rc=12
    # num = 36-12 = 24 = den -> kappa exactly 1
    r = got["g2"]
    assert r["kappa_num"] == r["kappa_den"] == 24
    assert r["n_agree"] == r["n"] == 6


def test_quantile_sketch_attest_numpy_parity_and_breach(spark):
    """t36: (a) the exact p50/p90 must equal numpy's linear
    interpolation on the raw column and both contract booleans must
    be TRUE on real data; (b) the rank-interval logic must DETECT a
    breach — a value far from the target quantile has a rank span
    that cannot overlap the contract interval (negative control, so
    the attestation is not vacuous)."""
    import numpy as np

    from zappy_spark.queries.pipeline_ops import QUERIES as PQ

    sf = "/root/testdata/sf0.001"
    rows = PQ["t36_quantile_sketch_attest"](spark, sf).collect()
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_returnflag", "l_quantity"
    )
    for r in rows:
        q = np.array(
            [
                x["l_quantity"]
                for x in li.filter(
                    F.col("l_returnflag") == r["l_returnflag"]
                ).collect()
            ]
        )
        assert r["n"] == len(q)
        assert abs(r["p50"] - np.percentile(q, 50)) < 1e-6
        assert abs(r["p90"] - np.percentile(q, 90)) < 1e-6
        assert r["sketch_ok_p50"] and r["sketch_ok_p90"]
        # negative control on the same group: the minimum value's
        # rank span [0, count(min)] must fail the p90 interval
        lt = 0
        le = int((q == q.min()).sum())
        n = len(q)
        lo, hi = 0.9 * n - n / 100 - 1, 0.9 * n + n / 100 + 1
        assert not (le >= lo and lt <= hi)


# ---------------------------------------------------------- round 10


def test_logreg_tdiv_matches_both_engines(spark):
    """v28's exactness hinges on ONE pinned semantic: Spark `div`,
    DuckDB `//`, and the driver-side _tdiv all truncate integer
    division toward ZERO (Python's bare // floors — different on
    negatives). Pin all three on the sign grid."""
    import duckdb

    from zappy_spark.operators.training import _tdiv

    cases = [(7, 3), (-7, 3), (7, -3), (-7, -3), (8, 4), (-8, 4)]
    got_spark = [
        r["q"]
        for r in spark.createDataFrame(cases, ["a", "b"])
        .selectExpr("a div b q", "a", "b")
        .orderBy("a", "b")
        .collect()
    ]
    ordered = sorted(cases)
    got_duck = [
        duckdb.sql(f"select cast({a} as bigint) // {b}").fetchone()[0]
        for a, b in ordered
    ]
    got_py = [_tdiv(a, b) for a, b in ordered]
    # ordered: (-8,4) (-7,-3) (-7,3) (7,-3) (7,3) (8,4) — all three
    # truncate toward zero (floor division would give -3 for -7/3)
    assert got_spark == got_duck == got_py == [-2, 2, -2, -2, 2, 2]


def test_logreg_empty_corpus_zero_trajectory(spark):
    """Round-11 ADVICE: a global agg over ZERO rows returns NULL
    sums; before the coalesce fix _tdiv(None, ...) raised TypeError
    inside the fit loop. The empty corpus must instead yield the
    all-zero weight trajectory (the SQL oracle's NULL-free
    spelling), and the distributed plan's weights must be 0, not
    NULL."""
    from zappy_spark.operators.training import (
        logreg_features,
        logreg_fit_weights,
        logreg_train_fixed,
    )

    df = spark.createDataFrame([], "text string")
    traj = logreg_fit_weights(logreg_features(df, "text"), 3, 2)
    assert traj == [[0, 0, 0, 0]] * 4
    rows = logreg_train_fixed(df, "text", n_iter=2).collect()
    assert [
        (r["step"], r["n"], r["w_bias"], r["w_the"], r["w_data"], r["w_len"])
        for r in rows
    ] == [(1, 0, 0, 0, 0, 0), (2, 0, 0, 0, 0, 0)]


def test_logreg_train_planted_separation(spark):
    """v28's accuracy pin on PLANTED separable labels (VERDICT r9
    item 4): positives carry 'the' twice, negatives none, so the
    clipped x1 feature separates at the boundary the label rule
    uses — 8 iterations must reach 100% training accuracy, with a
    positive 'the' weight and negative bias. The whole trajectory
    is also re-derived with plain Python integers (the fixed-point
    arithmetic twin) and must match the distributed result cell for
    cell — partitioning cannot perturb an integer sum."""
    from zappy_spark.operators.training import (
        LOGREG_SCALE,
        _tdiv,
        logreg_train_fixed,
    )

    rows = [
        (i, "the quick the text data word")
        if i % 2 == 0
        else (i, "data data noise word filler junk")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(7)
    out = logreg_train_fixed(df, "text", n_iter=8, lr_den=2).collect()
    assert [r["step"] for r in out] == list(range(1, 9))
    final = out[-1]
    assert final["n"] == 40
    assert final["n_correct"] == 40  # separable -> 100% accuracy
    assert final["w_the"] > 0 and final["w_bias"] < 0

    # python fixed-point twin (the same arithmetic, sequential)
    s = LOGREG_SCALE
    feats = [
        ((1, 2, 1, 0), 1) if i % 2 == 0 else ((1, 0, 2, 0), 0)
        for i in range(40)
    ]
    w = [0, 0, 0, 0]
    expect = []
    for step in range(1, 9):
        g = [0, 0, 0, 0]
        ncorr = 0
        for x, y in feats:
            z = sum(wi * xi for wi, xi in zip(w, x))
            p = min(s, max(0, s // 2 + _tdiv(z, 4)))
            r = p - y * s
            if (1 if 2 * p > s else 0) == y:
                ncorr += 1
            for j in range(4):
                g[j] += r * x[j]
        w = [w[j] - _tdiv(g[j], 2 * 40) for j in range(4)]
        expect.append((step, 40, ncorr, w[0], w[1], w[2], w[3]))
    got = [
        (r["step"], r["n"], r["n_correct"], r["w_bias"], r["w_the"],
         r["w_data"], r["w_len"])
        for r in out
    ]
    assert got == expect


def test_logreg_plan_one_agg_per_step(spark):
    """v28 plan hygiene: each GD step is ONE aggregate over the
    feature scan — no join, no window, no Python UDF anywhere (the
    gradient is a hash agg, not a collect loop)."""
    from zappy_spark.operators.training import (
        _logreg_step_agg,
        logreg_features,
    )

    df = spark.createDataFrame(
        [(i, "the the data") for i in range(8)], ["doc_id", "text"]
    )
    feat = logreg_features(df, "text")
    plan = (
        _logreg_step_agg(feat, [1, -2, 3, 0])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "HashAggregate" in plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BatchEvalPython",
                "Window"):
        assert bad not in plan


def test_token_id_table_base_merges_shadowing():
    """t43's id table: base [a-z0-9] ids 0..35 in byte order, merge
    products 36.. in step order, FIRST occurrence wins when two
    steps concatenate to the same string (the setdefault/CASE-order
    precedence both engines share), '<unk>' = -1."""
    from zappy_spark.operators.text import token_id_table

    t = token_id_table([("t", "h"), ("th", "e"), ("a", "b")])
    assert t["a"] == 0 and t["z"] == 25 and t["0"] == 26 and t["9"] == 35
    assert t["th"] == 36 and t["the"] == 37 and t["ab"] == 38
    assert t["<unk>"] == -1
    # collision: step 1 (a,bc)->'abc', step 3 (ab,c)->'abc' shadows
    t2 = token_id_table([("a", "bc"), ("x", "y"), ("ab", "c")])
    assert t2["abc"] == 36 and t2["xy"] == 37  # id 38 never assigned
    assert 38 not in set(t2.values())


def test_encode_token_ids_hand_histogram(spark):
    """t43 on the t37 hand-schedule corpus: with merges (a,a),
    (a,b), (aa,a), 'aaa' encodes to the single id for 'aaa', 'abab'
    to two 'ab' ids, and 'Zed!' becomes ONE <unk> (id -1) — the
    UNK row doubling as the OOV count."""
    from zappy_spark.operators.text import encode_token_ids

    rows = [(i, "aaa abab" if i < 3 else "aaa Zed!", "g0" if i < 3 else "g1")
            for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "src"])
    got = {
        (r["src"], r["token_id"], r["token"]): r["n"]
        for r in encode_token_ids(df, "text", "src", n_merges=3).collect()
    }
    # merges: step1 (a,a)->aa id 36, step2 (a,b)->ab id 37,
    # step3 (aa,a)->aaa id 38
    assert got == {
        ("g0", 37, "ab"): 6,   # 3 docs x abab -> [ab, ab]
        ("g0", 38, "aaa"): 3,  # 3 docs x aaa -> [aaa]
        ("g1", -1, "<unk>"): 1,  # zed! out of scope
        ("g1", 38, "aaa"): 1,
    }


def test_token_ids_detok_identity(spark):
    """t43's detokenize-identity audit: every in-scope word's id
    sequence decodes back to the word byte-for-byte (symbols only
    ever merge, never drop bytes; the id table is invertible on
    non-shadowed ids). Pinned here as the property the histogram
    entry doesn't re-assert per row."""
    from zappy_spark.operators.text import (
        bpe_apply_merges,
        bpe_discover_merges,
        decode_token_ids,
        token_id_table,
    )

    rows = [(i, "the then theta other data date 42x") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = bpe_discover_merges(df, "text", 6)
    ids = token_id_table(merges)
    id_map = F.create_map(*[F.lit(x) for kv in ids.items() for x in kv])
    words = df.select(
        F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    seg = bpe_apply_merges(F.regexp_replace("w", "(.)", "|$1|"), merges)
    syms = F.filter(F.split(seg, "\\|"), lambda x: x != "")
    encoded = words.select(
        "w",
        F.transform(
            syms, lambda t: F.element_at(id_map, t)
        ).alias("ids"),
    )
    decoded = encoded.select(
        "w", decode_token_ids(F.col("ids"), merges).alias("back")
    )
    bad = decoded.filter(F.col("w") != F.col("back")).collect()
    assert bad == []


def test_token_ids_degenerate_corpus_oracle_parity(spark, tmp_path):
    """t43's oracle shares t39's identity-fallback guard: fewer
    trainable pairs than n_merges must not empty the SQL side while
    Spark still encodes with the shorter schedule."""
    import duckdb
    import pandas as pd

    from zappy_spark.queries.pipeline_ops import QUERIES, _t43_oracle

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "source": ["s1", "s1", "s2"],
            "text": ["ab ab", "ab cd", "Zed! ab"],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    got = {
        (r["source"], r["token_id"], r["token"]): r["n"]
        for r in QUERIES["t43_token_ids"](spark, str(tmp_path)).collect()
    }
    # merges: (a,b) id 36, (c,d) id 37; b3..b6 fall back to '#'
    assert got == {
        ("s1", 36, "ab"): 3,
        ("s1", 37, "cd"): 1,
        ("s2", -1, "<unk>"): 1,
        ("s2", 36, "ab"): 1,
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    orc = {
        (r[0], r[1], r[2]): r[3]
        for r in con.execute(_t43_oracle(6)).fetchall()
    }
    assert orc == got


def test_synth_scale_double_application_salted_chains(spark):
    """Round-10 fix: applying the generator TWICE (sf0.1 -> 10x ->
    100x) must still plant working chains in pass 2. Pass-1 chain
    docs re-enter pass 2 as REPL suffix-perturbed copies whose spans
    the df cap kills (correct), but an UNSALTED pass-2 chain for the
    same base id would reuse those very span strings and vanish with
    them — the 100-chains-missing failure the 100x assertion caught.
    main() salts chain tokens with the pass's id shift; this drives
    two passes of the real perturb() path at miniature scale and
    asserts every pass-2 chain clusters."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    from scripts.synth_scale import PLANT_EVERY, perturb

    from zappy_spark.operators.dedup import dedup_cluster_ledger

    rows = [
        (0, "organic words here", "en", "web", 18),
        (PLANT_EVERY, "more organic text", "en", "web", 17),
        (7, "never planted doc", "en", "web", 17),
    ]
    base = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )

    def one_pass(df, repl):
        span = df.agg(F.max("doc_id")).first()[0] + 1
        parts = []
        for i in range(repl):
            p = perturb("documents", df, i, salt=str(span))
            parts.append(p.withColumn("doc_id", F.col("doc_id") + i * span))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out, span

    pass1, span1 = one_pass(base, 5)
    corpus, span2 = one_pass(pass1, 5)
    corpus = corpus.localCheckpoint()
    out = {
        r["component"]: r
        for r in dedup_cluster_ledger(
            corpus, "text", "doc_id", "n_chars",
            span=3, min_shared=3, max_df=8,
        ).collect()
    }
    # pass-2 planting bases: every doc in pass1 with id % 50 == 0 —
    # ids 0 and 50 from the base, plus pass-1 chain/replica ids that
    # happen to be multiples of 50
    planted2 = [
        r["doc_id"]
        for r in pass1.filter(F.col("doc_id") % PLANT_EVERY == 0).collect()
    ]
    assert len(planted2) >= 2
    for d in planted2:
        a, b = d + span2, d + 2 * span2
        r = out.get(a)
        assert r is not None, f"pass-2 chain for base {d} missing"
        assert r["n_docs"] == 3 and r["kept_doc_id"] == b
    # nothing else clusters: pass-1 chains' copies are df-capped away
    assert len(out) == len(planted2)


def test_logreg_score_ledger_matches_trained_predictions(spark):
    """v29's ledger on the planted-separation corpus: with 100%
    training accuracy, keep == label — so n_keep is exactly the
    positive count and chars_kept sums exactly the positive docs'
    chars. Also pins the arithmetic identity chars_total =
    chars_kept + dropped chars."""
    from zappy_spark.operators.training import logreg_score_ledger

    rows = [
        (i, "g0" if i < 20 else "g1",
         "the quick the text data word" if i % 2 == 0
         else "data data noise word filler junk",
         29 if i % 2 == 0 else 32)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "source", "text", "n_chars"]
    ).repartition(5)
    out = {
        r["source"]: r
        for r in logreg_score_ledger(
            df, "text", "source", "n_chars", n_iter=8, lr_den=2
        ).collect()
    }
    for g in ("g0", "g1"):
        r = out[g]
        assert r["n_docs"] == 20
        assert r["n_keep"] == 10  # the separable positives
        assert r["chars_total"] == 10 * 29 + 10 * 32
        assert r["chars_kept"] == 10 * 29
    # plan hygiene: scoring is literal arithmetic on the scan — the
    # ledger plan has no join anywhere
    plan = (
        logreg_score_ledger(df, "text", "source", "n_chars", n_iter=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BatchEvalPython"):
        assert bad not in plan


def test_vocab_growth_hand_counts(spark):
    """t44 on a hand corpus: token/type/hapax/max-freq per group,
    out-of-scope words ('Zed!') excluded by the tokenizer-family
    scope rule, case folded before counting."""
    from zappy_spark.operators.text import vocab_growth_stats

    rows = [
        (0, "g0", "aa bb aa cc"),
        (1, "g0", "aa Zed! dd"),
        (2, "g1", "xx xx xx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "text"])
    got = {
        r["grp"]: (r["n_tokens"], r["n_types"], r["n_hapax"],
                   r["max_freq"])
        for r in vocab_growth_stats(df, "text", "grp").collect()
    }
    # g0: tokens aa,bb,aa,cc,aa,dd (zed! out of scope) -> 6 tokens,
    # 4 types, hapax = bb,cc,dd = 3, max = aa x3
    assert got["g0"] == (6, 4, 3, 3)
    assert got["g1"] == (3, 1, 0, 3)


def test_logreg_trajectory_partition_invariant(spark):
    """The v28 exactness claim tested directly: the weight
    trajectory is an integer sequence, so it must be IDENTICAL
    under any partitioning of the corpus (1, 3, 32 partitions, and
    a shuffled row order) — the property floating-point gradient
    sums cannot have."""
    from zappy_spark.operators.training import (
        logreg_features,
        logreg_fit_weights,
    )

    rows = [
        (i, f"doc {i} " + ("the " * (i % 5)) + ("data " * (i % 3)))
        for i in range(101)
    ]
    base = spark.createDataFrame(rows, ["doc_id", "text"])
    trajs = []
    for df in (
        base.coalesce(1),
        base.repartition(3),
        base.repartition(32),
        base.orderBy(F.md5(F.col("doc_id").cast("string"))).repartition(7),
    ):
        trajs.append(logreg_fit_weights(logreg_features(df, "text"), 6, 2))
    assert trajs[0] == trajs[1] == trajs[2] == trajs[3]


def test_logreg_holdout_eval_split_isolation(spark):
    """v30's structural claim: the holdout cannot influence the
    weights. Poisoning every HOLDOUT doc's text (flipping its
    features and label) must leave the trained weights — and hence
    the confusion counts on the UNPOISONED holdout — unchanged,
    while poisoning one TRAINING doc changes the trajectory."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.training import (
        logreg_features,
        logreg_fit_weights,
    )

    rows = [
        (i, "the quick the text data word"
         if i % 2 == 0 else "data data noise word filler junk")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ho = _hash_key("doc_id") < sample_threshold(0.25)
    train = df.filter(~ho)
    w_base = logreg_fit_weights(logreg_features(train, "text"))[-1]

    # poison all holdout docs -> training unchanged -> same weights
    poisoned = df.withColumn(
        "text",
        F.when(ho, F.lit("the the the the the")).otherwise(F.col("text")),
    )
    w_ho_poison = logreg_fit_weights(
        logreg_features(poisoned.filter(~ho), "text")
    )[-1]
    assert w_ho_poison == w_base

    # poison one training doc -> trajectory moves
    tid = train.select("doc_id").orderBy("doc_id").first()[0]
    poisoned_tr = df.withColumn(
        "text",
        F.when(
            F.col("doc_id") == tid, F.lit("the the the the the")
        ).otherwise(F.col("text")),
    )
    w_tr_poison = logreg_fit_weights(
        logreg_features(poisoned_tr.filter(~ho), "text")
    )[-1]
    assert w_tr_poison != w_base


def test_logreg_holdout_eval_hand_confusion(spark):
    """v30's confusion arithmetic on the separable corpus: with
    100% accuracy the holdout confusion has fp == fn == 0 and
    tp + tn == n_eval; counts cross-checked against the split
    predicate evaluated directly."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.training import logreg_holdout_eval

    rows = [
        (i, "g0",
         "the quick the text data word"
         if i % 2 == 0 else "data data noise word filler junk")
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    out = logreg_holdout_eval(
        df, "text", "doc_id", "src", holdout_frac=0.25
    ).collect()
    assert len(out) == 1
    r = out[0]
    n_ho = df.filter(
        _hash_key("doc_id") < sample_threshold(0.25)
    ).count()
    assert r["n_eval"] == n_ho > 0
    assert r["fp"] == 0 and r["fn"] == 0
    assert r["tp"] + r["tn"] == r["n_eval"]


def test_vocab_coverage_curve_hand_counts(spark):
    """t45 on a hand corpus with a rank TIE at the boundary: 'aa'
    and 'bb' both occur 3x — the tie breaks to the smaller word, so
    k=1 covers 'aa' (3 tokens), k=5 covers everything. Out-of-scope
    words excluded; curve is monotone and ends at total."""
    from zappy_spark.operators.text import vocab_coverage_curve

    rows = [
        (0, "aa bb aa bb Zed!"),
        (1, "aa bb cc dd"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["k"]: (r["covered_tokens"], r["total_tokens"])
        for r in vocab_coverage_curve(df, "text", ks=(1, 2, 5)).collect()
    }
    # vocab: aa x3, bb x3, cc x1, dd x1 -> total 8
    assert got[1] == (3, 8)   # tie (aa,bb) -> 'aa' ranks first
    assert got[2] == (6, 8)
    assert got[5] == (8, 8)


def _t46_ids(n: int, frac: float = 0.5) -> tuple[list[int], list[int]]:
    """Split ids 0..n-1 into (ref, eval) by the house md5 hex-prefix
    rule — the same arithmetic sampling.sample_threshold drives, so
    tests can plant docs on a KNOWN side of the split."""
    import hashlib

    from zappy_spark.operators.sampling import sample_threshold

    thr = sample_threshold(frac)
    ref, ev = [], []
    for i in range(n):
        h = hashlib.md5(str(i).encode()).hexdigest()[:8]
        (ref if h < thr else ev).append(i)
    return ref, ev


def test_xcorpus_perplexity_planted_separation(spark):
    """t46's planted-distribution pin: reference docs cycle a fixed
    4-word pattern, so in-pattern bigrams get near-1 smoothed
    probability while garbage bigrams fall back to 1/V. Clean eval
    docs must be KEPT, garbage eval docs DROPPED, and a 1-token doc
    lands in n_short — the ledger accounts for every document."""
    from zappy_spark.operators.text import xcorpus_perplexity_ledger

    ref, ev = _t46_ids(40, 0.5)
    clean = "alpha beta gamma delta " * 10
    rows = [(i, clean.strip(), "s") for i in ref]
    # eval: first two clean, next two garbage (unseen vocab), one short
    rows.append((ev[0], clean.strip(), "s"))
    rows.append((ev[1], clean.strip(), "s"))
    rows.append((ev[2], "zzz1 zzz2 zzz3 zzz4 zzz5", "s"))
    rows.append((ev[3], "qqq7 qqq8 qqq9", "s"))
    rows.append((ev[4], "alpha", "s"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = xcorpus_perplexity_ledger(
        df, "text", "doc_id", "source", ref_frac=0.5, ppl_cutoff=2.0
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_ref"] == len(ref)
    assert r["n_eval"] == 5
    assert r["n_short"] == 1
    assert r["n_keep"] == 2  # the clean eval docs
    assert r["n_drop"] == 2  # the garbage eval docs


def test_xcorpus_perplexity_model_isolation(spark):
    """t46's structural claim (the v30 precedent): scored documents
    cannot reach the model. Adding a brand-new garbage EVAL doc must
    leave every other eval doc's keep/drop verdict unchanged —
    possible only if the model is built from the reference slice
    alone."""
    from zappy_spark.operators.text import xcorpus_perplexity_ledger

    ref, ev = _t46_ids(60, 0.5)
    clean = ("alpha beta gamma delta " * 8).strip()
    base_rows = [(i, clean, "s") for i in ref]
    base_rows += [(ev[0], clean, "s"), (ev[1], "zz1 zz2 zz3 zz4", "s")]
    poisoned = base_rows + [
        (ev[2], "xx1 xx2 xx3 xx4 xx5 xx6 xx7 xx8", "s")
    ]

    def ledger(rows):
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        return xcorpus_perplexity_ledger(
            df, "text", "doc_id", "source", ref_frac=0.5, ppl_cutoff=2.0
        ).collect()[0]

    a, b = ledger(base_rows), ledger(poisoned)
    # the new eval doc adds exactly one eval + one drop; keeps and
    # the prior drop verdicts are untouched (model unchanged)
    assert (a["n_ref"], a["n_keep"], a["n_drop"]) == (len(ref), 1, 1)
    assert (b["n_ref"], b["n_keep"], b["n_drop"]) == (len(ref), 1, 2)


def test_xcorpus_perplexity_cutoff_margin(spark):
    """t46's margin pin: the keep rule compares an order-dependent
    double sum (noise ~1e-13) against the ln(ppl_cutoff) literal,
    so correctness REQUIRES no document near the cutoff. Assert the
    nearest per-doc nll at the driver fixture sits >= 1e-6 away
    (round-11 calibration measured >= 1.2e-5 across all SFs and
    both synth fixtures; this guards the checked-in fixture)."""
    import math

    from pyspark.sql import functions as F

    from zappy_spark.operators.dedup import word_shingles
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.text import T46_PARAMS
    from zappy_spark.session import load_table

    cut = math.log(T46_PARAMS["ppl_cutoff"])
    docs = load_table(spark, SF_DIR, "documents").select(
        F.col("doc_id").alias("_id"),
        (
            _hash_key("doc_id")
            < sample_threshold(T46_PARAMS["ref_frac"])
        ).alias("_ref"),
        word_shingles(F.col("text"), 2, filter_empty=True).alias("_gs"),
    )
    cnt = (
        docs.select("_id", "_ref", F.explode("_gs").alias("_g"))
        .groupBy("_id", "_ref", "_g")
        .agg(F.count("*").alias("_c"))
    )
    model = (
        cnt.filter(F.col("_ref")).groupBy("_g").agg(F.sum("_c").alias("_bc"))
    )
    ctx = model.groupBy(F.split("_g", " ").getItem(0).alias("_w1")).agg(
        F.sum("_bc").alias("_cc")
    )
    v = ctx.agg(F.count("*").cast("bigint").alias("_v"))
    p = (F.coalesce(F.col("_bc"), F.lit(0)) + F.lit(1.0)) / (
        F.coalesce(F.col("_cc"), F.lit(0)) + F.col("_v")
    )
    margin = (
        cnt.filter(~F.col("_ref"))
        .withColumn("_w1", F.split("_g", " ").getItem(0))
        .join(model, "_g", "left")
        .join(ctx, "_w1", "left")
        .crossJoin(F.broadcast(v))
        .groupBy("_id")
        .agg(((-F.sum(F.col("_c") * F.log(p))) / F.sum("_c")).alias("_nll"))
        .agg(F.min(F.abs(F.col("_nll") - F.lit(cut))).alias("m"))
        .collect()[0]["m"]
    )
    assert margin > 1e-6, f"doc too close to t46 cutoff: {margin}"


def test_unigram_lm_planted_vocab_recovery(spark):
    """t47's planted pin: a corpus whose words are concatenations
    of 'ab' and 'cd' must converge to exactly those two pieces in
    use (single chars survive in the cost table as the pruning
    floor but earn zero usage), with exact usage counts."""
    from zappy_spark.operators.text import unigram_lm_train

    rows = [("abcd abab cdcd abcdab",)] * 30 + [("cdab ab cd",)] * 20
    df = spark.createDataFrame(rows, ["text"])
    out = unigram_lm_train(
        df, "text", n_iter=3, max_piece_len=2, n_pieces=10
    ).collect()
    got = {(r["step"], r["piece"]): r["n_used"] for r in out}
    # hand counts: 'ab' in abcd(1)x30 + abab(2)x30 + abcdab(2)x30 +
    # cdab(1)x20 + ab(1)x20 = 190; 'cd' = 30+60+30+20+20 = 160
    assert got == {
        (s, p): n
        for s in (1, 2, 3)
        for p, n in (("ab", 190), ("cd", 160))
    }


def test_unigram_train_costs_is_last_step_of_lm_train(spark):
    """unigram_train_costs and unigram_lm_train share ONE EM loop:
    on the planted ab/cd corpus the deployable cost table is the
    last step's cost_next column plus the single chars that earned
    no usage, each at the add-one floor count of 1."""
    import math

    from zappy_spark.operators.text import (
        UNIGRAM_SCALE,
        unigram_lm_train,
        unigram_train_costs,
    )

    rows = [("abcd abab cdcd abcdab",)] * 30 + [("cdab ab cd",)] * 20
    df = spark.createDataFrame(rows, ["text"])
    kw = dict(n_iter=3, max_piece_len=2, n_pieces=10)
    costs = unigram_train_costs(df, "text", **kw)
    last = [r for r in unigram_lm_train(df, "text", **kw).collect()
            if r["step"] == 3]
    assert {r["piece"] for r in last} == {"ab", "cd"}
    # floor: 1 count each for a, b, c, d on top of the used total
    total = sum(r["n_used"] for r in last) + 4
    floor = math.floor(-math.log(1 / total) * UNIGRAM_SCALE + 0.5)
    want = {r["piece"]: r["cost_next"] for r in last}
    want.update({ch: floor for ch in "abcd"})
    assert costs == want


_TRAINER_CORPUS = [
    (i, "the cat sat on the mat data" if i % 2 else "abab cdcd ab data")
    for i in range(12)
]


@pytest.mark.parametrize(
    "train",
    [
        "bpe_train_merges",
        "wordpiece_train_merges",
        "unigram_lm_train",
        "logreg_train_fixed",
    ],
)
def test_trainer_result_collects_in_one_job(spark, train):
    """The fixed-iteration trainers return the rows their driver
    loop already collected: collecting the returned frame must not
    re-run the per-step aggregates (at most ONE job, the local-rows
    scan), however many steps the loop ran."""
    from zappy_spark.operators import text, training

    fn = getattr(text, train, None) or getattr(training, train)
    df = spark.createDataFrame(_TRAINER_CORPUS, ["doc_id", "text"])
    out = fn(df, "text")
    sc = spark.sparkContext
    group = f"collect-{train}"
    sc.setJobGroup(group, group)
    try:
        rows = out.collect()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) >= 2
    assert jobs <= 1, (train, jobs)


@pytest.mark.slow
def test_unigram_lm_partition_invariance(spark):
    """t47's exactness claim: the whole (step, piece, n_used,
    cost_next) trajectory is integer arithmetic over integer sums,
    so it must be BIT-IDENTICAL under any input partitioning."""
    from zappy_spark.operators.text import unigram_lm_train

    rows = [
        (f"w{i % 7}x{i % 3} abba cabb ba{i % 5}",) for i in range(60)
    ]
    trajs = []
    for parts in (1, 7):
        df = spark.createDataFrame(rows, ["text"]).repartition(parts)
        trajs.append(
            [
                tuple(r)
                for r in unigram_lm_train(
                    df, "text", n_iter=3, max_piece_len=3, n_pieces=20
                ).collect()
            ]
        )
    assert trajs[0] == trajs[1]


def test_unigram_segment_concat_identity(spark):
    """Viterbi pieces must concatenate back to the word (the
    t43 detokenize-identity property for the unigram family) and
    out-of-alphabet words become ONE <unk>."""
    from zappy_spark.operators.text import (
        _unigram_costs,
        unigram_segment,
    )

    costs = _unigram_costs({"a": 5, "b": 3, "ab": 9, "ba": 2, "c": 1})
    df = spark.createDataFrame(
        [("abab baa cab Ab ba7 x.y",)], ["text"]
    )
    rows = unigram_segment(df, "text", costs, max_piece_len=2).collect()
    got = {r["word"]: list(r["pieces"]) for r in rows}
    # out-of-scope word (punctuation) -> ONE <unk>
    assert got["x.y"] == ["<unk>"]
    # every in-scope word's pieces concatenate back IN ORDER —
    # including 'ba7', whose '7' falls back to an off-table
    # single-char piece at the INF cost (still emitted, so the
    # identity holds even for out-of-alphabet chars)
    for w, ps in got.items():
        if w != "x.y":
            assert "".join(ps) == w, (w, ps)
    assert got["abab"] == ["ab", "ab"]


def test_unigram_viterbi_word_length_cap(spark):
    """Round-12 ADVICE: the DP's best-cost array grows by up to one
    UNIGRAM_INF per character, so words past UNIGRAM_MAX_WORD_LEN
    would overflow BIGINT — the cap must RAISE loudly (not wrap),
    while a long-but-in-bounds all-missing word still segments with
    the concat identity intact."""
    import pytest

    from zappy_spark.operators.text import (
        UNIGRAM_MAX_WORD_LEN,
        _unigram_costs,
        unigram_segment,
    )

    costs = _unigram_costs({"a": 5, "b": 3, "ab": 9})
    ok_word = "z" * 300  # every char off-table: 300 stacked INFs
    rows = unigram_segment(
        spark.createDataFrame([(f"ab {ok_word}",)], ["text"]),
        "text", costs, max_piece_len=2,
    ).collect()
    got = {r["word"]: list(r["pieces"]) for r in rows}
    assert "".join(got[ok_word]) == ok_word
    too_long = "z" * (UNIGRAM_MAX_WORD_LEN + 1)
    with pytest.raises(Exception, match="UNIGRAM_MAX_WORD_LEN"):
        unigram_segment(
            spark.createDataFrame([(too_long,)], ["text"]),
            "text", costs, max_piece_len=2,
        ).collect()


def test_unigram_lm_cost_formula_twin(spark):
    """cost_next must equal the Python fixed-point twin recomputed
    from the SAME integer counts — pinning the M-step spelling the
    SQL oracle replays (round/ln on one IEEE division)."""
    import math

    from zappy_spark.operators.text import (
        UNIGRAM_SCALE,
        unigram_lm_train,
    )

    rows = [("abc bca cab abcabc",)] * 9 + [("aa bb cc",)] * 4
    df = spark.createDataFrame(rows, ["text"])
    out = unigram_lm_train(
        df, "text", n_iter=2, max_piece_len=3, n_pieces=15
    ).collect()
    by_step: dict[int, dict[str, tuple[int, int]]] = {}
    for r in out:
        by_step.setdefault(r["step"], {})[r["piece"]] = (
            r["n_used"],
            r["cost_next"],
        )
    for step, tbl in by_step.items():
        used = {p: n for p, (n, _) in tbl.items()}
        # single chars that earned no usage row still floor into the
        # total; recover them from the alphabet of the used pieces
        alphabet = {ch for p in used for ch in p}
        full = dict(used)
        for ch in alphabet:
            full.setdefault(ch, 1)
        total = sum(full.values())
        for p, (n, cost) in tbl.items():
            want = math.floor(
                -math.log(full[p] / total) * UNIGRAM_SCALE + 0.5
            )
            assert cost == want, (step, p, cost, want)


def test_absdisc_perplexity_planted_separation(spark):
    """t48's planted pin (the t46 shape under the discounted
    estimator): in-pattern eval docs keep near-ML bigram
    probability (nll ~ 0), garbage eval docs back off to the tiny
    add-one unigram (nll ~ ln(totu+vu)) — KEPT vs DROPPED, with the
    1-token doc in n_short."""
    from zappy_spark.operators.text import absdisc_perplexity_ledger

    ref, ev = _t46_ids(40, 0.5)
    clean = ("alpha beta gamma delta " * 10).strip()
    rows = [(i, clean, "s") for i in ref]
    rows += [
        (ev[0], clean, "s"),
        (ev[1], clean, "s"),
        (ev[2], "zzz1 zzz2 zzz3 zzz4 zzz5", "s"),
        (ev[3], "qqq7 qqq8 qqq9", "s"),
        (ev[4], "alpha", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = absdisc_perplexity_ledger(
        df, "text", "doc_id", "source", ref_frac=0.5, ppl_cutoff=2.0
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_ref"], r["n_eval"], r["n_short"]) == (len(ref), 5, 1)
    assert (r["n_keep"], r["n_drop"]) == (2, 2)


def test_absdisc_perplexity_cutoff_margin(spark):
    """t48's margin pin at the driver fixture: nearest per-doc nll
    must sit >= 1e-6 from ln(ppl_cutoff) (round-11 calibration
    measured >= 4.6e-4 across all SFs and both fixtures)."""
    import math

    import duckdb

    from zappy_spark.operators.sampling import sample_threshold
    from zappy_spark.operators.text import T48_PARAMS

    thr = sample_threshold(T48_PARAMS["ref_frac"])
    cut = math.log(T48_PARAMS["ppl_cutoff"])
    d = duckdb.connect()
    d.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    pu = "((COALESCE(uc, 0) + 1.0) / (totu + vu))"
    margin = d.execute(
        "WITH d AS (SELECT doc_id, source, "
        "list_filter(string_split(text, ' '), x -> x <> '') tks, "
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') is_ref FROM documents), "
        "n AS (SELECT doc_id, is_ref, tks, "
        "unnest(generate_series(1, len(tks) - 1)) i "
        "FROM d WHERE len(tks) >= 2), "
        "bg AS (SELECT doc_id, is_ref, tks[i] || ' ' || tks[i+1] g FROM n), "
        "cnt AS (SELECT doc_id, is_ref, g, COUNT(*) c FROM bg GROUP BY ALL), "
        "model AS (SELECT g, SUM(c) bc FROM cnt WHERE is_ref GROUP BY 1), "
        "ctx AS (SELECT string_split(g, ' ')[1] w1, SUM(bc) cc, "
        "COUNT(*) n1p FROM model GROUP BY 1), "
        "toks AS (SELECT unnest(tks) w FROM d WHERE is_ref), "
        "uni AS (SELECT w, COUNT(*) uc FROM toks GROUP BY 1), "
        "uv AS (SELECT COUNT(*) vu, SUM(uc) totu FROM uni), "
        "sc AS (SELECT doc_id, -SUM(c * ln(CASE WHEN cc IS NULL THEN "
        f"{pu} ELSE (GREATEST(COALESCE(bc, 0) - 0.75, 0.0) + "
        f"0.75 * n1p * {pu}) / cc END)) / SUM(c) nll "
        "FROM cnt LEFT JOIN model USING (g) "
        "LEFT JOIN ctx ON string_split(cnt.g, ' ')[1] = ctx.w1 "
        "LEFT JOIN uni ON string_split(cnt.g, ' ')[2] = uni.w "
        "CROSS JOIN uv WHERE NOT is_ref GROUP BY 1) "
        f"SELECT MIN(ABS(nll - {cut!r})) FROM sc"
    ).fetchone()[0]
    assert margin > 1e-6, f"doc too close to t48 cutoff: {margin}"


def test_filter_agreement_cube_marginals(spark):
    """v32's accounting pins: (1) the eight cube cells partition
    the scored set per source; (2) collapsing the kn axis
    reproduces v31's 2x2 grid exactly (same classifier, same t46
    verdicts — the cube is a strict refinement); (3) collapsing
    clf+lm reproduces t49's per-source (n_keep, n_drop) on the
    scored population."""
    from zappy_spark.operators.text import (
        T46_PARAMS,
        T49_PARAMS,
        kneser_ney_perplexity_ledger,
    )
    from zappy_spark.operators.training import (
        filter_agreement_cube,
        filter_agreement_ledger,
    )
    from zappy_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    cube = {
        r["source"]: r
        for r in filter_agreement_cube(
            docs, "text", "doc_id", "source",
            ref_frac=T46_PARAMS["ref_frac"],
            cutoff_lm=T46_PARAMS["ppl_cutoff"],
            cutoff_kn=T49_PARAMS["ppl_cutoff"],
        ).collect()
    }
    cells = [
        "n_kkk", "n_kkd", "n_kdk", "n_kdd",
        "n_dkk", "n_dkd", "n_ddk", "n_ddd",
    ]
    assert len(cube) > 0
    for r in cube.values():
        assert sum(r[c] for c in cells) == r["n_scored"]
    grid = {
        r["source"]: r
        for r in filter_agreement_ledger(
            docs, "text", "doc_id", "source",
            ref_frac=T46_PARAMS["ref_frac"],
            ppl_cutoff=T46_PARAMS["ppl_cutoff"],
        ).collect()
    }
    for src, r in cube.items():
        g = grid[src]
        assert r["n_scored"] == g["n_scored"]
        # cube order is (clf, lm, kn); v31's grid is (lm, clf)
        assert r["n_kkk"] + r["n_kkd"] == g["n_both_keep"]
        assert r["n_dkk"] + r["n_dkd"] == g["n_lm_only"]
        assert r["n_kdk"] + r["n_kdd"] == g["n_clf_only"]
        assert r["n_ddk"] + r["n_ddd"] == g["n_both_drop"]
    kn = {
        r["source"]: r
        for r in kneser_ney_perplexity_ledger(
            docs, "text", "doc_id", "source",
            ref_frac=T49_PARAMS["ref_frac"],
            ppl_cutoff=T49_PARAMS["ppl_cutoff"],
        ).collect()
    }
    for src, r in cube.items():
        k = kn[src]
        assert r["n_kkk"] + r["n_kdk"] + r["n_dkk"] + r["n_ddk"] == (
            k["n_keep"]
        )
        assert r["n_kkd"] + r["n_kdd"] + r["n_dkd"] + r["n_ddd"] == (
            k["n_drop"]
        )


def test_absdisc_fixed_model_matches_t48_on_eval_slice(spark):
    """t48's train/deploy split must be CONSISTENT (round 12 — the
    t46 artifact round-trip pin applied to the discounted
    estimator): scoring the non-reference slice with the STORED
    two-table model artifact (absdisc_fit_model ->
    absdisc_ledger_with_model) must reproduce t48's in-one-pass
    (n_keep, n_drop, n_short) per source exactly — the artifact
    round trip loses nothing, including the re-derived context
    totals, continuation funding, and vocabulary."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.text import (
        T48_PARAMS,
        absdisc_fit_model,
        absdisc_ledger_with_model,
        absdisc_perplexity_ledger,
    )
    from zappy_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frac = T48_PARAMS["ref_frac"]
    cut = T48_PARAMS["ppl_cutoff"]
    model = absdisc_fit_model(docs, "text", "doc_id", ref_frac=frac)
    ev = docs.filter(
        ~(_hash_key("doc_id") < sample_threshold(frac))
    )
    got = {
        r["source"]: (r["n_keep"], r["n_drop"], r["n_short"])
        for r in absdisc_ledger_with_model(
            ev, "text", "doc_id", "source", model, ppl_cutoff=cut
        ).collect()
    }
    want = {
        r["source"]: (r["n_keep"], r["n_drop"], r["n_short"])
        for r in absdisc_perplexity_ledger(
            docs, "text", "doc_id", "source",
            ref_frac=frac, ppl_cutoff=cut,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_kn_fixed_model_matches_t49_on_eval_slice(spark):
    """t49's train/deploy split must be CONSISTENT — and it shares
    its stored artifact with t48 (ONE (kind, gram, c) parquet, two
    estimator families): scoring the non-reference slice with the
    stored model via kn_ledger_with_model must reproduce t49's
    in-one-pass (n_keep, n_drop, n_short) per source exactly."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.text import (
        T49_PARAMS,
        absdisc_fit_model,
        kn_ledger_with_model,
        kneser_ney_perplexity_ledger,
    )
    from zappy_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frac = T49_PARAMS["ref_frac"]
    cut = T49_PARAMS["ppl_cutoff"]
    model = absdisc_fit_model(docs, "text", "doc_id", ref_frac=frac)
    ev = docs.filter(
        ~(_hash_key("doc_id") < sample_threshold(frac))
    )
    got = {
        r["source"]: (r["n_keep"], r["n_drop"], r["n_short"])
        for r in kn_ledger_with_model(
            ev, "text", "doc_id", "source", model, ppl_cutoff=cut
        ).collect()
    }
    want = {
        r["source"]: (r["n_keep"], r["n_drop"], r["n_short"])
        for r in kneser_ney_perplexity_ledger(
            docs, "text", "doc_id", "source",
            ref_frac=frac, ppl_cutoff=cut,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_kneser_ney_planted_separation(spark):
    """t49's planted pin (the t46/t48 shape under interpolated KN):
    in-pattern eval docs keep near-ML discounted probability
    (nll ~ 0), garbage eval docs back off to the small add-one
    continuation distribution — KEPT vs DROPPED, with the 1-token
    doc in n_short and every document accounted for."""
    from zappy_spark.operators.text import kneser_ney_perplexity_ledger

    ref, ev = _t46_ids(40, 0.5)
    clean = ("alpha beta gamma delta " * 10).strip()
    rows = [(i, clean, "s") for i in ref]
    rows += [
        (ev[0], clean, "s"),
        (ev[1], clean, "s"),
        (ev[2], "zzz1 zzz2 zzz3 zzz4 zzz5", "s"),
        (ev[3], "qqq7 qqq8 qqq9", "s"),
        (ev[4], "alpha", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = kneser_ney_perplexity_ledger(
        df, "text", "doc_id", "source", ref_frac=0.5, ppl_cutoff=2.0
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_ref"], r["n_eval"], r["n_short"]) == (len(ref), 5, 1)
    assert (r["n_keep"], r["n_drop"]) == (2, 2)


def test_kneser_ney_continuation_beats_raw_frequency(spark):
    """The KN-specific behavioral pin — the 'San Francisco' effect
    that separates t49 from t48 on IDENTICAL data and cutoff:
    'francisco' is the most FREQUENT reference token but appears in
    only ONE context (always after 'san'), while 'cat' is rarer but
    follows FOUR distinct contexts. An unseen-context eval bigram
    backs off to the continuation distribution under KN (cat wins:
    p_c = 5/12 vs francisco's 2/12) but to raw unigram frequency
    under absolute discounting (francisco wins: p_u = 11/35 vs
    5/35) — so at the same cutoff the two estimators give OPPOSITE
    keep/drop verdicts, per-source-visible in the ledger. Hand
    numbers: KN nll(cat) = ln(12/5) = 0.876 < ln 3.5 = 1.253 <
    ln 6 = 1.792 = nll(francisco); absdisc nll(francisco) =
    ln(35/11) = 1.157 < ln 3.5 < ln 7 = 1.946 = nll(cat)."""
    from zappy_spark.operators.text import (
        absdisc_perplexity_ledger,
        kneser_ney_perplexity_ledger,
    )

    ref, ev = _t46_ids(60, 0.5)
    rows = [(i, "san francisco", "r") for i in ref[:10]]
    rows += [
        (ref[10], "the cat", "r"),
        (ref[11], "a cat", "r"),
        (ref[12], "one cat", "r"),
        (ref[13], "two cat", "r"),
    ]
    rows += [
        (ev[0], "uq1 francisco", "gf"),
        (ev[1], "uq2 cat", "gc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def verdicts(ledger_fn):
        out = ledger_fn(
            df, "text", "doc_id", "source", ref_frac=0.5, ppl_cutoff=3.5
        ).collect()
        return {
            r["source"]: (r["n_keep"], r["n_drop"])
            for r in out
            if r["source"] != "r"
        }

    kn = verdicts(kneser_ney_perplexity_ledger)
    ad = verdicts(absdisc_perplexity_ledger)
    # KN: many-context 'cat' keeps, single-context 'francisco' drops
    assert kn == {"gf": (0, 1), "gc": (1, 0)}
    # absolute discounting: raw frequency wins — exactly reversed
    assert ad == {"gf": (1, 0), "gc": (0, 1)}


def test_kneser_ney_cutoff_margin(spark):
    """t49's margin pin at the driver fixture: nearest per-doc nll
    must sit >= 1e-4 from ln(ppl_cutoff) (round-12 gap scan
    measured >= 8.5e-3 across all 3 SFs and both fixtures; the
    brief's floor is 1e-4, asserted here)."""
    import math

    import duckdb

    from zappy_spark.operators.sampling import sample_threshold
    from zappy_spark.operators.text import T49_PARAMS

    thr = sample_threshold(T49_PARAMS["ref_frac"])
    cut = math.log(T49_PARAMS["ppl_cutoff"])
    d = duckdb.connect()
    d.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    pc = "((COALESCE(cw2, 0) + 1.0) / (bt + vu))"
    margin = d.execute(
        "WITH d AS (SELECT doc_id, source, "
        "list_filter(string_split(text, ' '), x -> x <> '') tks, "
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') is_ref FROM documents), "
        "n AS (SELECT doc_id, is_ref, tks, "
        "unnest(generate_series(1, len(tks) - 1)) i "
        "FROM d WHERE len(tks) >= 2), "
        "bg AS (SELECT doc_id, is_ref, tks[i] || ' ' || tks[i+1] g FROM n), "
        "cnt AS (SELECT doc_id, is_ref, g, COUNT(*) c FROM bg GROUP BY ALL), "
        "model AS (SELECT g, SUM(c) bc FROM cnt WHERE is_ref GROUP BY 1), "
        "ctx AS (SELECT string_split(g, ' ')[1] w1, SUM(bc) cc, "
        "COUNT(*) n1p FROM model GROUP BY 1), "
        "cont AS (SELECT string_split(g, ' ')[2] w2, COUNT(*) cw2 "
        "FROM model GROUP BY 1), "
        "toks AS (SELECT unnest(tks) w FROM d WHERE is_ref), "
        "uv AS (SELECT COUNT(DISTINCT w) vu FROM toks), "
        "btc AS (SELECT COUNT(*) bt FROM model), "
        "sc AS (SELECT doc_id, -SUM(c * ln(CASE WHEN cc IS NULL THEN "
        f"{pc} ELSE (GREATEST(COALESCE(bc, 0) - 0.75, 0.0) + "
        f"0.75 * n1p * {pc}) / cc END)) / SUM(c) nll "
        "FROM cnt LEFT JOIN model USING (g) "
        "LEFT JOIN ctx ON string_split(cnt.g, ' ')[1] = ctx.w1 "
        "LEFT JOIN cont ON string_split(cnt.g, ' ')[2] = cont.w2 "
        "CROSS JOIN uv CROSS JOIN btc "
        "WHERE NOT is_ref GROUP BY 1) "
        f"SELECT MIN(ABS(nll - {cut!r})) FROM sc"
    ).fetchone()[0]
    assert margin > 1e-4, f"doc too close to t49 cutoff: {margin}"


def test_perplexity_empty_reference_raises(spark):
    """Round-12 ADVICE guard: an empty reference slice / empty
    stored model must raise LOUDLY instead of silently vanishing
    every scored document from n_keep/n_drop (V=0 made the smoothed
    probability a NULL-producing division). ref_frac=0.0 puts the
    md5 threshold below every id."""
    import pytest

    from zappy_spark.operators.text import (
        absdisc_ledger_with_model,
        absdisc_perplexity_ledger,
        kn3_ledger_with_model,
        kn3_perplexity_ledger,
        kn_ledger_with_model,
        kneser_ney_perplexity_ledger,
        xcorpus_ledger_with_model,
        xcorpus_perplexity_ledger,
    )

    rows = [(i, "alpha beta gamma delta", "s") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for fn in (
        xcorpus_perplexity_ledger,
        absdisc_perplexity_ledger,
        kneser_ney_perplexity_ledger,
        kn3_perplexity_ledger,
    ):
        with pytest.raises(Exception, match="empty reference slice/model"):
            fn(
                df, "text", "doc_id", "source", ref_frac=0.0, ppl_cutoff=2.0
            ).collect()
    for fn, schema in (
        (xcorpus_ledger_with_model, "gram string, bc bigint"),
        (absdisc_ledger_with_model, "kind string, gram string, c bigint"),
        (kn_ledger_with_model, "kind string, gram string, c bigint"),
        (kn3_ledger_with_model, "kind string, g string, c bigint"),
    ):
        empty_model = spark.createDataFrame([], schema)
        with pytest.raises(Exception, match="empty reference slice/model"):
            fn(
                df, "text", "doc_id", "source", empty_model, ppl_cutoff=2.0
            ).collect()


def test_filter_agreement_grid_accounts_for_every_scored_doc(spark):
    """v31's accounting pin: the 2x2 grid partitions the scored
    set — n_scored == n_both_keep + n_lm_only + n_clf_only +
    n_both_drop per source, and n_scored equals t46's
    n_keep + n_drop (the LM-scored population) on the same data."""
    from zappy_spark.operators.text import (
        T46_PARAMS,
        xcorpus_perplexity_ledger,
    )
    from zappy_spark.operators.training import filter_agreement_ledger
    from zappy_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    grid = filter_agreement_ledger(
        docs, "text", "doc_id", "source",
        ref_frac=T46_PARAMS["ref_frac"],
        ppl_cutoff=T46_PARAMS["ppl_cutoff"],
    ).collect()
    lm = {
        r["source"]: r["n_keep"] + r["n_drop"]
        for r in xcorpus_perplexity_ledger(
            docs, "text", "doc_id", "source",
            ref_frac=T46_PARAMS["ref_frac"],
            ppl_cutoff=T46_PARAMS["ppl_cutoff"],
        ).collect()
    }
    assert len(grid) > 0
    for r in grid:
        parts = (
            r["n_both_keep"] + r["n_lm_only"]
            + r["n_clf_only"] + r["n_both_drop"]
        )
        assert r["n_scored"] == parts, tuple(r)
        assert r["n_scored"] == lm[r["source"]], tuple(r)


def test_xcorpus_fixed_model_matches_t46_on_eval_slice(spark):
    """The train/deploy split must be CONSISTENT: scoring the
    non-reference slice with the STORED model artifact
    (xcorpus_fit_model -> xcorpus_ledger_with_model) must reproduce
    t46's in-one-pass (n_keep, n_drop) per source exactly — the
    artifact round-trip loses nothing."""
    from pyspark.sql import functions as F

    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.text import (
        T46_PARAMS,
        xcorpus_fit_model,
        xcorpus_ledger_with_model,
        xcorpus_perplexity_ledger,
    )
    from zappy_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frac = T46_PARAMS["ref_frac"]
    cut = T46_PARAMS["ppl_cutoff"]
    model = xcorpus_fit_model(docs, "text", "doc_id", ref_frac=frac)
    ev = docs.filter(
        ~(_hash_key("doc_id") < sample_threshold(frac))
    )
    got = {
        r["source"]: (r["n_keep"], r["n_drop"], r["n_short"])
        for r in xcorpus_ledger_with_model(
            ev, "text", "doc_id", "source", model, ppl_cutoff=cut
        ).collect()
    }
    want = {
        r["source"]: (r["n_keep"], r["n_drop"], r["n_short"])
        for r in xcorpus_perplexity_ledger(
            docs, "text", "doc_id", "source",
            ref_frac=frac, ppl_cutoff=cut,
        ).collect()
    }
    assert got == want and len(got) > 0


def _ref_winnow(txt: str, k: int, w: int) -> set:
    """Pure-Python robust winnowing (Schleimer et al. fig. 5
    semantics: window min, RIGHTMOST on hash ties) — the
    independent reference the Spark operator must reproduce."""
    import hashlib
    import re

    c = re.sub("[^a-z0-9]", "", txt.lower())
    if len(c) < k + w - 1:
        return set()
    grams = [c[i : i + k] for i in range(len(c) - k + 1)]
    keys = [hashlib.md5(g.encode()).hexdigest()[:10] for g in grams]
    fps = set()
    for p in range(len(grams) - w + 1):
        best = p
        for q in range(p + 1, p + w):
            if keys[q] <= keys[best]:  # <= : rightmost wins ties
                best = q
        fps.add((keys[best], best + 1))
    return fps


def test_winnow_fingerprints_match_reference(spark):
    """Bit-exact vs the pure-Python reference, including a
    repeated-gram document where every window is a hash TIE (the
    rightmost rule does all the work) and punctuation/case noise
    the normalization must strip."""
    from zappy_spark.operators.dedup import winnow_fingerprints

    docs = [
        (1, "The quick brown fox jumps over the lazy dog again"),
        (2, "aaaaaaaaaaaaaaaaaaaaaaaa"),  # all grams identical
        (3, "Lorem, IPSUM; dolor sit amet 42!"),
        (4, "short"),  # below k+w-1 -> no fingerprints
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got: dict = {i: set() for i, _ in docs}
    for r in winnow_fingerprints(df, "text", "doc_id", k=8, w=4).collect():
        got[r["doc_id"]].add((r["fp_hash"], r["fp_pos"]))
    for i, txt in docs:
        assert got[i] == _ref_winnow(txt, 8, 4), f"doc {i}"


def test_winnow_coverage_guarantee(spark):
    """The winnowing theorem: any shared substring of length
    >= k + w - 1 yields at least one SHARED selected fingerprint —
    here a 20-char block pasted into otherwise-disjoint documents
    (k=8, w=4: guarantee threshold 11)."""
    from zappy_spark.operators.dedup import (
        winnow_dup_pairs,
        winnow_fingerprints,
    )

    block = "thesharedplagiarizedblock"
    df = spark.createDataFrame(
        [
            (1, "completely unrelated opening text " + block),
            (2, block + " followed by a different unrelated tail"),
            (3, "nothing in common with either document here at all"),
        ],
        ["doc_id", "text"],
    )
    fps = {
        i: set()
        for i in (1, 2, 3)
    }
    for r in winnow_fingerprints(df, "text", "doc_id", k=8, w=4).collect():
        fps[r["doc_id"]].add(r["fp_hash"])
    assert fps[1] & fps[2], "shared block must share a fingerprint"
    pairs = {
        (r["i"], r["j"]): r["n_shared"]
        for r in winnow_dup_pairs(
            df, "text", "doc_id", k=8, w=4, min_overlap=0.1
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_winnow_identical_docs_full_overlap(spark):
    """Identical documents (modulo case/punctuation, which the MOSS
    normalization erases) must pair at ovl == 1.0; the flood guard
    must drop a fingerprint shared by every document when capped
    below the corpus size."""
    from zappy_spark.operators.dedup import winnow_dup_pairs

    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, same), (2, same.upper().replace(" ", "  ")), (3, "x" + same)],
        ["doc_id", "text"],
    )
    rows = winnow_dup_pairs(
        df, "text", "doc_id", k=8, w=4, min_overlap=0.99
    ).collect()
    got = {(r["i"], r["j"]): float(r["ovl"]) for r in rows}
    assert got[(1, 2)] == 1.0
    # flood guard: cap 2 keeps pair hashes, cap 0 drops everything
    assert (
        winnow_dup_pairs(
            df, "text", "doc_id", k=8, w=4,
            min_overlap=0.1, max_fp_df=1,
        ).count()
        == 0
    )


def test_winnow_pos_cap_guard_raises(spark):
    """A document longer than WINNOW_POS_CAP cleaned chars must
    raise loudly (fixed-width position packing would silently
    mis-order beyond it), per the UNIGRAM_MAX_WORD_LEN doctrine."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from zappy_spark.operators.dedup import (
        WINNOW_POS_CAP,
        winnow_fingerprints,
    )

    big = "a" * (WINNOW_POS_CAP + 8)
    df = spark.createDataFrame([(1, big)], ["doc_id", "text"])
    with pytest.raises(SparkRuntimeException):
        winnow_fingerprints(df, "text", "doc_id").count()


def _ref_wordpiece(texts: list, n_merges: int):
    """Pure-Python WordPiece trainer (exact Fraction scores, ## 
    continuation marking, (score, pair_n, lhs, rhs) tie order) —
    the independent reference for the quantized Spark operator.
    Quantized and exact scores pick the same argmax whenever the
    quantization gap doesn't collapse distinct leaders onto equal
    keys with a different secondary order — the crafted corpora
    below keep leaders separated, so the two orders agree."""
    import re
    from collections import Counter
    from fractions import Fraction

    vocab = Counter()
    for txt in texts:
        for w in txt.lower().split():
            if re.fullmatch("[a-z0-9]+", w):
                vocab[w] += 1
    state = {
        w: tuple([w[0]] + ["##" + c for c in w[1:]]) for w in vocab
    }
    merges = []
    for _ in range(n_merges):
        pairs, syms = Counter(), Counter()
        for w, f in vocab.items():
            s = state[w]
            for a in s:
                syms[a] += f
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        best = max(
            pairs,
            key=lambda p: (
                Fraction(pairs[p], syms[p[0]] * syms[p[1]]),
                pairs[p],
                [-ord(c) for c in p[0]],
                [-ord(c) for c in p[1]],
            ),
        )
        # max with negated ords == min lexicographic on ties
        merges.append(best)
        l, r = best
        prod = l + (r[2:] if r.startswith("##") else r)
        for w in state:
            s, out, i = state[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(prod)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            state[w] = tuple(out)
    return merges


def test_wordpiece_matches_reference(spark):
    """Merge schedule parity with the pure-Python exact-Fraction
    reference on a corpus exercising marking, ties, and repeated
    merges."""
    from zappy_spark.operators.text import wordpiece_train_merges

    texts = [
        "the cat sat on the mat",
        "the cat ate the rat and a bat",
        "banana bandana anagrams abound",
        "ratatat drumming on a tin can",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [
        (r["lhs"], r["rhs"])
        for r in wordpiece_train_merges(df, "text", 6).collect()
    ]
    assert got == _ref_wordpiece(texts, 6)


def test_wordpiece_prefers_rare_pair_over_frequent(spark):
    """The family separator: 'xy' appears 3x but x/y appear ONLY
    together (score 3/(3*3)=1/3); 'ab' appears 6x but a and b are
    everywhere (score 6/(14*10)). BPE merges (a,##b) first;
    WordPiece must merge (x,##y) first."""
    from zappy_spark.operators.text import (
        bpe_train_merges,
        wordpiece_train_merges,
    )

    corpus = (
        ["ab"] * 6 + ["a"] * 8 + ["b"] * 4 + ["xy"] * 3
    )
    df = spark.createDataFrame(
        [(0, " ".join(corpus))], ["doc_id", "text"]
    )
    wp = wordpiece_train_merges(df, "text", 1).collect()[0]
    bp = bpe_train_merges(df, "text", 1).collect()[0]
    assert (wp["lhs"], wp["rhs"]) == ("x", "##y")
    # BPE's alphabet carries no ## marking — its most-frequent pair
    assert (bp["lhs"], bp["rhs"]) == ("a", "b")


def test_wordpiece_marking_distinguishes_position(spark):
    """'ab' word-initially and 'ab' mid-word are DIFFERENT pairs:
    (a,##b) vs (##a,##b). A corpus where 'ab' only ever occurs
    mid-word must train a ##a+##b merge, never a+##b."""
    from zappy_spark.operators.text import wordpiece_train_merges

    df = spark.createDataFrame(
        [(0, "zab zab zab wab wab")], ["doc_id", "text"]
    )
    rows = wordpiece_train_merges(df, "text", 2).collect()
    # all three pairs tie at score 0.2 -> pair_n DESC picks ##a+##b
    first = (rows[0]["lhs"], rows[0]["rhs"], rows[0]["merged"])
    assert first == ("##a", "##b", "##ab")
    assert all(r["lhs"] != "a" for r in rows)


def test_cdc_chunks_tile_documents_exactly(spark):
    """Chunk spans must partition [1, L] with no gaps or overlaps
    for long, boundary-dense, and shorter-than-window documents;
    concatenating the chunk substrings must rebuild the text."""
    from zappy_spark.operators.dedup import cdc_chunks

    docs = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "abcdefghijklmnop"),  # exactly k chars
        (3, "tiny"),  # below k -> one whole-doc chunk
        (4, "x" * 200),  # degenerate repeated content
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = cdc_chunks(df, "text", "doc_id", k=16, mask="0").collect()
    by: dict = {i: [] for i, _ in docs}
    for r in rows:
        by[r["doc_id"]].append((r["chunk_start"], r["chunk_end"]))
    for i, txt in docs:
        spans = sorted(by[i])
        assert spans[0][0] == 1 and spans[-1][1] == len(txt), (i, spans)
        for (a, b), (c, _) in zip(spans, spans[1:]):
            assert c == b + 1, (i, spans)


def test_cdc_shift_robustness(spark):
    """The CDC property d46's fixed blocks lack: prepending bytes
    re-aligns every chunk after the first boundary — the original
    doc's suffix chunk hashes must all reappear in the prefixed
    doc (fixed-offset blocking would shift and miss them all)."""
    from zappy_spark.operators.dedup import cdc_chunks

    base = (
        "content defined chunking finds the same cut points after "
        "an insertion because boundaries depend on local bytes only "
        "and never on absolute offsets within the document stream"
    )
    df = spark.createDataFrame(
        [(1, base), (2, "INSERTED-PREFIX-" + base)], ["doc_id", "text"]
    )
    rows = cdc_chunks(df, "text", "doc_id", k=16, mask="0").collect()
    h1 = [
        r["chunk_hash"]
        for r in sorted(rows, key=lambda r: r["chunk_start"])
        if r["doc_id"] == 1
    ]
    h2 = {r["chunk_hash"] for r in rows if r["doc_id"] == 2}
    assert len(h1) >= 2, "test text must produce at least one boundary"
    assert set(h1[1:]) <= h2, "all suffix chunks must re-align"


def test_cdc_dedup_ledger_counts(spark):
    """Two identical docs in group A and one disjoint doc in group
    B: every A chunk instance is duplicated (occ == 2), no B chunk
    is; bytes columns must sum the exact chunk lengths."""
    from zappy_spark.operators.dedup import cdc_dedup_ledger

    same = "identical replicated document body for chunk dedup " * 3
    df = spark.createDataFrame(
        [
            (1, same, "A"),
            (2, same, "A"),
            (3, "completely different text with no shared runs at all", "B"),
        ],
        ["doc_id", "text", "source"],
    )
    got = {
        r["source"]: (
            r["n_chunks"], r["n_bytes"], r["dup_chunks"], r["dup_bytes"]
        )
        for r in cdc_dedup_ledger(
            df, "text", "doc_id", "source", k=16, mask="0"
        ).collect()
    }
    na, ba, da, dba = got["A"]
    assert da == na and dba == ba == 2 * len(same)
    nb, bb, db2, dbb = got["B"]
    assert db2 == 0 and dbb == 0
    assert bb == len(
        "completely different text with no shared runs at all"
    )


def test_cdc_mask_validation(spark):
    """Bad masks must be rejected before any job runs."""
    import pytest

    from zappy_spark.operators.dedup import cdc_chunks

    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    for bad in ("", "G", "0Z", "000000000"):
        with pytest.raises(ValueError):
            cdc_chunks(df, "text", "doc_id", mask=bad)


def test_mfcc_attest_matches_simulation_and_closed_form(spark):
    """The m09 kernel: the full wav → FFT → mel → log → DCT-II
    pipeline must equal a brute-force numpy replay AND the
    spec-constant closed form c_j = S_j·log10(nf·A²) + D_j the
    DuckDB oracle uses; the argmax/sign constants and the measured
    safety margins are regression-pinned."""
    import math

    import numpy as np

    from zappy_spark.operators.multimodal import (
        MFCC_N,
        MFCC_SCALE,
        _m09_dct_terms,
        mel_filterbank,
        mfcc_attest_features,
    )

    ids = [0, 1, 2, 13, 64, 99]
    df = spark.createDataFrame([(i,) for i in ids], "media_id long")
    got = {r["media_id"]: r for r in mfcc_attest_features(df).collect()}
    w = mel_filterbank()
    dctm = np.cos(
        np.pi * np.arange(MFCC_N)[:, None]
        * (np.arange(MFCC_N)[None, :] + 0.5) / MFCC_N
    )
    terms = _m09_dct_terms()
    for mid in ids:
        a = 1000 + 4 * mid
        b = 2 * a if mid % 2 else a // 4
        n = 800 + (mid % 7) * 160
        x = np.tile([a + b, -b, b - a, -b], n // 4).astype(np.float64)
        spec = np.fft.fft(x.reshape(n // 160, 160), axis=1)
        half = (spec.real**2 + spec.imag**2)[:, :81].sum(axis=0)
        c = dctm @ np.log10(np.maximum(w @ half, 1.0))
        t = math.log10((n // 160) * a * a)
        closed = np.array([s * t + d for _, s, d in terms])
        # pipeline vs closed form: machine precision (measured
        # panel max 3.6e-15); boundary distance >= 3.3e-9 c-units
        assert np.abs(c - closed).max() < 1e-12
        r = got[mid]
        assert r["c0_fp"] == math.floor(c[0] * MFCC_SCALE + 0.5)
        assert r["c1_fp"] == math.floor(c[1] * MFCC_SCALE + 0.5)
        jmax = 1 + int(np.abs(c[1:]).argmax())
        assert r["cmax_j"] == jmax
        assert r["cmax_sign"] == (1 if c[jmax] > 0 else -1)
        # margin pins: quantization boundaries and the argmax gap
        for v in (c[0], c[1]):
            y = v * MFCC_SCALE + 0.5
            assert min(y - math.floor(y), math.ceil(y) - y) > 1e-4
        top2 = np.sort(np.abs(c[1:]))[-2:]
        assert top2[1] - top2[0] > 3.0
        assert (r["n_mel"], r["n_mfcc"]) == (12, 12)


def test_wordpiece_greedy_segmentation_reference(spark):
    """The greedy walk must match a pure-Python longest-match-first
    replay (position classes enforced) on every in-scope word of a
    small corpus, trained merges shared between both paths."""
    from pyspark.sql import functions as F

    from zappy_spark.operators.text import (
        _wp_strip,
        wordpiece_discover_merges,
        wordpiece_piece_count,
    )

    texts = [
        "the cat sat on the mat",
        "the cat ate the rat and a bat",
        "thematic threads thread the theme",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    merges = wordpiece_discover_merges(df, "text", 6)
    pieces = [
        (_wp_strip(l) + _wp_strip(r), not l.startswith("##"))
        for l, r in merges
    ]

    def ref_count(w: str) -> int:
        pos, n = 0, 0
        while pos < len(w):
            best = 1
            for content, initial in pieces:
                if (pos == 0) == initial and w[pos : pos + len(content)] == content:
                    best = max(best, len(content))
            pos += best
            n += 1
        return n

    words = sorted({w for t in texts for w in t.split()})
    wdf = spark.createDataFrame([(w,) for w in words], ["word"])
    got = {
        r["word"]: r["np"]
        for r in wdf.select(
            "word",
            wordpiece_piece_count(F.col("word"), merges).alias("np"),
        ).collect()
    }
    for w in words:
        assert got[w] == ref_count(w), (w, got[w], ref_count(w))


def test_wordpiece_greedy_respects_position_class(spark):
    """A merge product trained mid-word (##-marked lhs) must not
    match at a word start: with only the merge (##a, ##b) trained,
    'zab' segments as z|ab (2 pieces) but 'abz' as a|b|z (3) —
    content 'ab' exists in both words, class gates the match."""
    from pyspark.sql import functions as F

    from zappy_spark.operators.text import wordpiece_piece_count

    merges = [("##a", "##b")]
    wdf = spark.createDataFrame([("zab",), ("abz",)], ["word"])
    got = {
        r["word"]: r["np"]
        for r in wdf.select(
            "word",
            wordpiece_piece_count(F.col("word"), merges).alias("np"),
        ).collect()
    }
    assert got == {"zab": 2, "abz": 3}


@pytest.mark.slow
def test_tokenizer_bakeoff_integer_verdict(spark):
    """v33's winner must be a pure function of the two family
    counts, and the per-group counts must equal each family's own
    audit run independently (composition adds nothing)."""
    from zappy_spark.operators.text import (
        bpe_segment_stats,
        tokenizer_fertility_compare,
        wordpiece_segment_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "A"),
            (2, "the cat ate the rat and a bat", "A"),
            (3, "thematic threads thread the theme", "B"),
        ],
        ["doc_id", "text", "source"],
    )
    got = {
        r["source"]: r
        for r in tokenizer_fertility_compare(
            df, "text", "source", 4
        ).collect()
    }
    bpe = {
        r["source"]: r
        for r in bpe_segment_stats(df, "text", "source", 4).collect()
    }
    wp = {
        r["source"]: r
        for r in wordpiece_segment_stats(df, "text", "source", 4).collect()
    }
    for g in ("A", "B"):
        r = got[g]
        assert r["bpe_subwords"] == bpe[g]["n_subwords"]
        assert r["wp_pieces"] == wp[g]["n_pieces"]
        assert r["n_words"] == bpe[g]["n_words"]
        assert r["delta"] == r["bpe_subwords"] - r["wp_pieces"]
        want = (
            "wordpiece"
            if r["wp_pieces"] < r["bpe_subwords"]
            else "bpe"
            if r["wp_pieces"] > r["bpe_subwords"]
            else "tie"
        )
        assert r["winner"] == want


def test_hilbert_bijective_locality_and_reference(spark):
    """The Hilbert kernel on the full 8x8 grid (bits=3): a
    bijection onto 0..63 whose CONSECUTIVE positions are always
    Manhattan-adjacent cells — the locality property Z-order lacks
    (its power-of-two seam jumps) — and bit-exact parity with the
    standard iterative xy2d reference."""
    from zappy_spark.operators.layout import with_hilbert

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], ["x", "y"]
    )
    rows = with_hilbert(df, "x", "y", bits=3).collect()
    pos = {r["hv"]: (r["x"], r["y"]) for r in rows}
    assert sorted(pos) == list(range(64))
    for d in range(63):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    for r in rows:
        assert xy2d(8, r["x"], r["y"]) == r["hv"]


@pytest.mark.slow
def test_hilbert_write_clusters_both_dims(spark, tmp_path):
    """Hilbert-clustered files must keep BOTH dimensions' per-file
    min-max boxes tight (the parquet-skipping property), like the
    z-order test — and at the same grid, Hilbert's average box
    must be no worse than Z-order's."""
    import glob

    from zappy_spark.operators.layout import hilbert_write, zorder_write

    df = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("bigint").alias("y"),
    )
    hp = str(tmp_path / "hilberted")
    zp = str(tmp_path / "zordered")
    hilbert_write(df, hp, "x", "y", bits=8, num_files=16)
    zorder_write(df, zp, ["x", "y"], bits=8, num_files=16)

    def avg_widths(p):
        wx, wy = [], []
        for f in glob.glob(f"{p}/part-*.parquet"):
            r = spark.read.parquet(f).agg(
                (F.max("x") - F.min("x")).alias("wx"),
                (F.max("y") - F.min("y")).alias("wy"),
            ).collect()[0]
            wx.append(r["wx"])
            wy.append(r["wy"])
        assert len(wx) > 4
        return sum(wx) / len(wx), sum(wy) / len(wy)

    hx, hy = avg_widths(hp)
    zx, zy = avg_widths(zp)
    # both dims clustered, and no worse than Z-order on the sum
    assert hx < 0.5 * 255 and hy < 0.5 * 255
    assert hx + hy <= (zx + zy) * 1.05


def test_homoglyph_skeleton_catches_spoofed_twin(spark):
    """A Cyrillic-substituted twin is NOT an exact duplicate but
    MUST be a skeleton duplicate; a verbatim twin is both; an
    unrelated doc is neither — and the ledger separates the three
    populations exactly."""
    from zappy_spark.operators.dedup import (
        confusable_skeleton,
        homoglyph_dedup_ledger,
    )

    orig = "free cheap meds on sale today"
    spoofed = orig.replace("e", "е").replace("o", "о")  # Cyrillic
    assert spoofed != orig
    df = spark.createDataFrame(
        [
            (1, orig, "A"),
            (2, spoofed, "A"),
            (3, orig, "A"),  # verbatim twin
            (4, "something entirely unrelated here", "B"),
        ],
        ["doc_id", "text", "source"],
    )
    # the skeleton folds the spoof back onto the original
    skels = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", confusable_skeleton("text").alias("s")
        ).collect()
    }
    assert skels[1] == skels[2] == skels[3] == orig
    got = {
        r["source"]: (
            r["n_docs"],
            r["exact_dup_docs"],
            r["skeleton_dup_docs"],
            r["hidden_dup_docs"],
        )
        for r in homoglyph_dedup_ledger(
            df, "text", "doc_id", "source"
        ).collect()
    }
    # A: 3 docs, 2 raw hashes (orig x2 + spoof) -> 1 exact dup,
    # 1 skeleton hash -> 2 skeleton dups, 1 hidden
    assert got["A"] == (3, 1, 2, 1)
    assert got["B"] == (1, 0, 0, 0)


def test_auc_rank_eval_bruteforce_pairs(spark):
    """v34's pair counts vs the quadratic Mann-Whitney definition:
    rebuild the holdout (grp, y, z) rows with the operator's own
    deterministic pieces, count concordant/tied (pos, neg) pairs by
    brute force, and require exact equality — including a group
    engineered all-positive (auc_den == 0, no hidden NaN)."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.training import (
        _logreg_z,
        auc_rank_eval,
        logreg_features,
        logreg_fit_weights,
    )

    texts = [
        "the quick the text data word",
        "data data noise word filler junk",
        "the the data data one two three",
        "plain filler words only here",
        "the word the data the again",
    ]
    rows = [
        (i, "gpos" if i % 5 == 0 else f"g{i % 2}",
         "the best the data" if i % 5 == 0 else texts[i % len(texts)])
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    got = {
        r["src"]: r
        for r in auc_rank_eval(
            df, "text", "doc_id", "src", holdout_frac=0.5
        ).collect()
    }

    # reference: same split, same training pieces, quadratic pairs
    ho = _hash_key("doc_id") < sample_threshold(0.5)
    feat = logreg_features(df, "text", extra=("src", "doc_id"))
    w = logreg_fit_weights(
        feat.filter(~ho).select("y", "x1", "x2", "x3")
    )[-1]
    hold = [
        (r["src"], r["y"], r["_z"])
        for r in feat.filter(ho)
        .select("src", "y", _logreg_z(w).alias("_z"))
        .collect()
    ]
    srcs = sorted({s for s, _, _ in hold})
    assert set(got) == set(srcs) and "gpos" in srcs
    for s in srcs:
        pos = [z for g, y, z in hold if g == s and y == 1]
        neg = [z for g, y, z in hold if g == s and y == 0]
        conc = sum(1 for zp in pos for zn in neg if zp > zn)
        tied = sum(1 for zp in pos for zn in neg if zp == zn)
        r = got[s]
        assert r["n_pos"] == len(pos) and r["n_neg"] == len(neg)
        assert r["concordant"] == conc and r["tied"] == tied
        assert r["auc_num"] == 2 * conc + tied
        assert r["auc_den"] == 2 * len(pos) * len(neg)
    # the engineered group is single-class: exact zeros, no NaN
    assert got["gpos"]["auc_den"] == 0 and got["gpos"]["auc_num"] == 0


def test_auc_rank_eval_tie_and_perfect_bounds(spark):
    """AUC invariants on the operator output at a mixed corpus:
    0 <= auc_num <= auc_den, concordant + tied <= n_pos * n_neg,
    and a perfectly separable group scores auc_num == auc_den."""
    from zappy_spark.operators.training import auc_rank_eval

    rows = [
        (i, "sep",
         "the quick the text data word"
         if i % 2 == 0 else "data data noise word filler junk")
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    r = auc_rank_eval(df, "text", "doc_id", "src").collect()[0]
    assert r["n_pos"] > 0 and r["n_neg"] > 0
    assert 0 <= r["auc_num"] <= r["auc_den"]
    assert r["concordant"] + r["tied"] <= r["n_pos"] * r["n_neg"]
    # the rule is linearly separable and the trainer re-learns it
    assert r["auc_num"] == r["auc_den"]


def test_delta_cepstra_attest_closed_form_and_margins(spark):
    """The m10 kernel: the rising-amplitude panel's HTK N=2 deltas
    (edge-replicated) must equal the offset-cancelled closed form
    d1 = S_1·g(t) the DuckDB oracle uses, and the FULL 100-id
    panel's quantization margins are MEASURED and pinned — closed
    form vs pipeline < 1e-12, floor boundaries >= 1e-11 c-units."""
    import math

    import numpy as np

    from zappy_spark.operators.multimodal import (
        MFCC_N,
        MFCC_SCALE,
        delta_cepstra_attest_features,
        mel_filterbank,
    )

    ids = [0, 1, 2, 3, 13, 64, 99]
    df = spark.createDataFrame([(i,) for i in ids], "media_id long")
    got = {
        r["media_id"]: r
        for r in delta_cepstra_attest_features(df).collect()
    }
    s1 = math.cos(math.pi * 8.5 / MFCC_N) + math.cos(
        math.pi * 9.5 / MFCC_N
    )

    def closed(mid):
        a0, nf = 200 + mid, 5 + mid % 4

        def T(u):
            return 2 * math.log10(a0 + 16 * min(max(u, 0), nf - 1))

        def g(t):
            return (T(t + 1) - T(t - 1) + 2 * (T(t + 2) - T(t - 2))) / 10

        def cl(t):
            return min(max(t, 0), nf - 1)

        def h(t):
            return (
                g(cl(t + 1)) - g(cl(t - 1))
                + 2 * (g(cl(t + 2)) - g(cl(t - 2)))
            ) / 10

        m = nf // 2
        return nf, [s1 * g(0), s1 * g(m), s1 * g(nf - 1), s1 * h(m)]

    for mid in ids:
        nf, want = closed(mid)
        r = got[mid]
        assert r["n_frames"] == nf
        keys = ("d1_first_fp", "d1_mid_fp", "d1_last_fp", "dd1_mid_fp")
        for k, w in zip(keys, want):
            assert r[k] == math.floor(w * MFCC_SCALE + 0.5), (mid, k)
        # edge replication is load-bearing: interior mid-frame delta
        # differs from the clamped first-frame delta
        assert r["d1_first_fp"] != r["d1_mid_fp"]

    # measured margins over the WHOLE instrument (not just the
    # sampled ids): every quantized value sits far from a boundary
    worst = 1.0
    for mid in range(100):
        _, want = closed(mid)
        for w in want:
            y = w * MFCC_SCALE + 0.5
            worst = min(worst, y - math.floor(y), math.ceil(y) - y)
    assert worst > 1e-5  # >= 1e-11 c-units, ~1e4x the float error
    # the panel is non-degenerate: deltas vary across ids and the
    # rising amplitude makes d1 strictly nonzero everywhere
    vals = {got[m]["d1_mid_fp"] for m in ids}
    assert len(vals) > 1 and all(
        got[m]["d1_mid_fp"] != 0 for m in ids
    )


def test_nb_holdout_eval_hand_scores(spark):
    """v35's arithmetic vs a pure-Python naive-Bayes replay on a
    small corpus: same tokenization, same md5 split, same add-one
    log-odds — confusion counts must match exactly, and every
    holdout doc (including a ZERO-TOKEN one) must be accounted for
    in n_eval."""
    import math
    from collections import Counter

    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.training import nb_holdout_eval

    texts = [
        "the quick the text data word",
        "data data noise word filler junk",
        "the the data one two",
        "plain filler words only",
        "",  # zero-token doc: still a ledger row if held out
        "the word the data the again",
    ]
    rows = [
        (i, f"g{i % 2}", texts[i % len(texts)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    got = {
        r["src"]: r
        for r in nb_holdout_eval(
            df, "text", "doc_id", "src", holdout_frac=0.5
        ).collect()
    }

    # pure-Python replay
    ho_ids = {
        r["doc_id"]
        for r in df.filter(
            _hash_key("doc_id") < sample_threshold(0.5)
        ).collect()
    }
    toks = {i: [w for w in texts[i % len(texts)].split(" ") if w]
            for i, _, _ in rows}
    y = {i: int(toks[i].count("the") >= 2) for i in toks}
    tr = [i for i in toks if i not in ho_ids]
    n1 = sum(y[i] for i in tr)
    n0 = len(tr) - n1
    cw1, cw0 = Counter(), Counter()
    for i in tr:
        (cw1 if y[i] else cw0).update(toks[i])
    vocab = set(cw1) | set(cw0)
    t1, t0, v = sum(cw1.values()), sum(cw0.values()), len(vocab)
    conf = {}
    n_empty_ho = 0
    for i in sorted(ho_ids):
        s = math.log(n1 / n0)
        for w, c in Counter(toks[i]).items():
            s += c * (
                math.log(cw1[w] + 1.0) - math.log(t1 + v)
                - math.log(cw0[w] + 1.0) + math.log(t0 + v)
            )
        if not toks[i]:
            n_empty_ho += 1
        g = f"g{i % 2}"
        k = ("p" if s > 0 else "n") + str(y[i])
        conf.setdefault(g, Counter())[k] += 1
    assert n_empty_ho > 0, "fixture must hold out a zero-token doc"
    for g, c in conf.items():
        r = got[g]
        assert r["n_eval"] == sum(c.values())
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (
            c["p1"], c["p0"], c["n1"], c["n0"]
        ), g


def test_nb_holdout_eval_degenerate_raises(spark):
    """The round-12 ADVICE doctrine: a training slice missing a
    class must raise loudly, never score garbage."""
    import pytest

    from zappy_spark.operators.training import nb_holdout_eval

    rows = [(i, "g", "the quick the data") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    with pytest.raises(Exception, match="lacks a class"):
        nb_holdout_eval(df, "text", "doc_id", "src").collect()


def test_textrank_keywords_pure_python_replay(spark):
    """t52's whole fixed-point trajectory vs a pure-Python replay
    on a hand corpus: same token filter, same symmetrized weighted
    graph, same integer-floor update — rank_fp must match exactly,
    and the hub of a star-shaped corpus must rank first."""
    from collections import Counter, defaultdict

    from zappy_spark.operators.text import (
        T52_PARAMS,
        textrank_keywords,
    )

    rows = [
        (0, "g", "hub alpha hub beta hub gamma"),
        (1, "g", "hub delta Xx! hub alpha"),
        (2, "g", "alpha beta"),
        (3, "h", "solo pair solo pair solo"),
        (4, "h", "x"),  # single token: no edges, ignored
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    got = textrank_keywords(df, "text", "src").collect()

    S, dn, dd = (
        T52_PARAMS["scale"],
        T52_PARAMS["damp_num"],
        T52_PARAMS["damp_den"],
    )
    import re

    def replay(texts):
        w = Counter()
        for t in texts:
            ws = [
                x for x in (y.lower() for y in t.split(" "))
                if re.fullmatch("[a-z0-9]+", x)
            ]
            if len(ws) < 2:
                continue
            for a, b in zip(ws, ws[1:]):
                w[(a, b)] += 1
                w[(b, a)] += 1
        strength = defaultdict(int)
        for (a, _b), c in w.items():
            strength[a] += c
        nodes = sorted(strength)
        n = len(nodes)
        r = {v: S // n for v in nodes}
        for _ in range(T52_PARAMS["iters"]):
            inflow = defaultdict(int)
            for (a, b), c in w.items():
                inflow[b] += (r[a] * c) // strength[a]
            r = {
                v: ((dd - dn) * (S // n)) // dd
                + (dn * inflow[v]) // dd
                for v in nodes
            }
        ranked = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[: T52_PARAMS["topk"]]

    want = {
        "g": replay([t for _, s, t in rows if s == "g"]),
        "h": replay([t for _, s, t in rows if s == "h"]),
    }
    by = defaultdict(list)
    for rrow in sorted(got, key=lambda x: (x["src"], x["rk"])):
        by[rrow["src"]].append((rrow["word"], rrow["rank_fp"]))
    assert dict(by) == want
    # centrality sanity: the hub out-ranks its spokes
    assert by["g"][0][0] == "hub"
    # the token filter held: no 'Xx!' variant ever ranked
    assert all(w.isalnum() for ws in by.values() for w, _ in ws)


def test_nb_fit_model_roundtrip_equals_in_pass(spark, tmp_path):
    """v35's deployment split: nb_fit_model written to parquet and
    scored through nb_eval_with_model must equal nb_holdout_eval
    EXACTLY on the same docs (store-then-score == in-one-pass) —
    the artifact round-trip pin every fixed-model twin carries."""
    from zappy_spark.operators.training import (
        nb_eval_with_model,
        nb_fit_model,
        nb_holdout_eval,
    )

    texts = [
        "the quick the text data word",
        "data data noise word filler junk",
        "the the data one two",
        "plain filler words only",
        "the word the data the again",
    ]
    rows = [
        (i, f"g{i % 3}", texts[i % len(texts)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    path = str(tmp_path / "nb_model")
    nb_fit_model(df, "text", "doc_id", holdout_frac=0.25).write.parquet(
        path
    )
    got = sorted(
        tuple(r)
        for r in nb_eval_with_model(
            df, "text", "doc_id", "source",
            spark.read.parquet(path), holdout_frac=0.25,
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in nb_holdout_eval(
            df, "text", "doc_id", "source", holdout_frac=0.25
        ).collect()
    )
    assert got == want and len(got) > 0


def test_nb_eval_with_empty_model_raises(spark):
    """An EMPTY stored model must hit the loud prior guard (NULL
    aggregate sums), never silently empty the ledger through a
    0-row cross join."""
    import pytest

    from zappy_spark.operators.training import nb_eval_with_model

    df = spark.createDataFrame(
        [(i, "g", "the quick the data" if i % 2 else "noise word")
         for i in range(30)],
        ["doc_id", "source", "text"],
    )
    empty = spark.createDataFrame(
        [], "kind string, w string, k1 bigint, k0 bigint"
    )
    with pytest.raises(
        Exception, match="empty training vocabulary|lacks a class"
    ):
        nb_eval_with_model(
            df, "text", "doc_id", "source", empty
        ).collect()


def test_auc_weights_roundtrip_equals_in_pass(spark, tmp_path):
    """v34's deployment split: the trained weights written through
    logreg_weights_table → parquet and scored through
    auc_eval_with_weights must equal auc_rank_eval EXACTLY on the
    same docs (store-then-score == in-one-pass); a malformed
    weights table raises."""
    import pytest

    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.training import (
        auc_eval_with_weights,
        auc_rank_eval,
        logreg_features,
        logreg_fit_weights,
        logreg_weights_table,
    )

    texts = [
        "the quick the text data word",
        "data data noise word filler junk",
        "the the data one two",
        "plain filler words only",
    ]
    rows = [
        (i, f"g{i % 3}", texts[i % len(texts)]) for i in range(90)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    ho = _hash_key("doc_id") < sample_threshold(0.25)
    feat = logreg_features(df, "text")
    w = logreg_fit_weights(
        feat.filter(~ho).select("y", "x1", "x2", "x3"), 8, 2
    )[-1]
    path = str(tmp_path / "w")
    logreg_weights_table(spark, w).write.parquet(path)
    got = sorted(
        tuple(r)
        for r in auc_eval_with_weights(
            df, "text", "doc_id", "source",
            spark.read.parquet(path), 0.25,
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in auc_rank_eval(
            df, "text", "doc_id", "source", 0.25, 8, 2
        ).collect()
    )
    assert got == want and len(got) > 0
    two = spark.createDataFrame(
        [(0, 0, 0, 0), (1, 1, 1, 1)], "w0 long, w1 long, w2 long, w3 long"
    )
    with pytest.raises(ValueError, match="exactly 1 row"):
        auc_eval_with_weights(df, "text", "doc_id", "source", two)


def test_nb_crossval_equals_train_on_complement(spark):
    """v36's subtraction-derived fold models must equal a literal
    train-on-complement naive-Bayes replay, fold by fold — the
    pure-Python reference trains K separate models and must match
    the once-aggregated-then-subtracted Spark confusion exactly
    (including a zero-token doc and fold-partition coverage)."""
    import math
    from collections import Counter

    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.training import nb_crossval

    texts = [
        "the quick the text data word",
        "data data noise word filler junk",
        "the the data one two",
        "plain filler words only",
        "",
        "the word the data the again",
    ]
    rows = [(i, texts[i % len(texts)]) for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["fold"]: r
        for r in nb_crossval(df, "text", "doc_id", k=4).collect()
    }

    # fold assignment via the same md5 rule
    keys = {
        r["doc_id"]: r["k"]
        for r in df.select(
            "doc_id", _hash_key("doc_id").alias("k")
        ).collect()
    }
    thr = [sample_threshold(f / 4) for f in (1, 2, 3)]

    def fold_of(i):
        k = keys[i]
        return 0 if k < thr[0] else 1 if k < thr[1] else \
            2 if k < thr[2] else 3

    toks = {i: [w for w in t.split(" ") if w] for i, t in rows}
    y = {i: int(toks[i].count("the") >= 2) for i, _ in rows}
    folds = {i: fold_of(i) for i, _ in rows}
    assert set(folds.values()) == {0, 1, 2, 3}

    for f in range(4):
        tr = [i for i in toks if folds[i] != f]
        n1 = sum(y[i] for i in tr)
        n0 = len(tr) - n1
        cw1, cw0 = Counter(), Counter()
        for i in tr:
            (cw1 if y[i] else cw0).update(toks[i])
        vocab = set(cw1) | set(cw0)
        t1, t0, v = sum(cw1.values()), sum(cw0.values()), len(vocab)
        conf = Counter()
        for i in (i for i in toks if folds[i] == f):
            s = math.log(n1 / n0)
            for w, c in Counter(toks[i]).items():
                s += c * (
                    math.log(cw1[w] + 1.0) - math.log(t1 + v)
                    - math.log(cw0[w] + 1.0) + math.log(t0 + v)
                )
            conf[("p" if s > 0 else "n") + str(y[i])] += 1
        r = got[f]
        assert r["n_eval"] == sum(conf.values()) > 0
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (
            conf["p1"], conf["p0"], conf["n1"], conf["n0"]
        ), f


def test_shot_boundary_ledger_hand_payloads(spark):
    """m11 on crafted payloads: a sharp mid-clip content change
    fires exactly one boundary at the right frame; a uniform clip
    and a single-frame clip fire none; a short tail frame is
    compared exactly via the cross-multiplied rule."""
    from zappy_spark.operators.multimodal import shot_boundary_ledger

    # frame_bytes=4 for hand-checkable frames
    rows = [
        # two 'a' frames then two 'z' frames: mean jumps 97 -> 122
        (0, b"aaaa" + b"aaaa" + b"zzzz" + b"zzzz"),
        # uniform: no boundary
        (1, b"mmmm" * 4),
        # single frame: no previous, no boundary
        (2, b"abcd"),
        # tail frame of 2 bytes, big jump: 'a'*4 then 'z'*2
        (3, b"aaaa" + b"zz"),
        # tail jump below tau: 'a'*4 then 'b'*2 (mean 97 -> 98)
        (4, b"aaaa" + b"bb"),
    ]
    df = spark.createDataFrame(
        [(i, "video", p) for i, p in rows],
        "media_id long, kind string, payload binary",
    )
    got = {
        r["media_id"]: r
        for r in shot_boundary_ledger(
            df, tau=8, frame_bytes=4
        ).collect()
    }
    assert (got[0]["n_frames"], got[0]["n_boundaries"],
            got[0]["first_boundary_idx"]) == (4, 1, 2)
    assert (got[1]["n_boundaries"], got[1]["first_boundary_idx"]) \
        == (0, -1)
    assert (got[2]["n_frames"], got[2]["n_boundaries"]) == (1, 0)
    # |122*2*4 - 97*4*2| = 200 > 8*2*4 = 64 -> boundary at tail
    assert (got[3]["n_boundaries"], got[3]["first_boundary_idx"]) \
        == (1, 1)
    # mean jump 1 < 8 -> no boundary despite the length change
    assert got[4]["n_boundaries"] == 0


def test_mcnemar_marginals_collapse_to_both_evals(spark):
    """v37's cells must collapse onto the two single-model ledgers
    on the same corpus: both_right + nb_only == NB's correct count
    (v35 tp+tn) and both_right + lr_only == logreg's correct count
    (v30 tp+tn), per group; the χ² spelling is the exact identity
    (b−c)²/(b+c); and the fixture makes the models actually
    disagree somewhere (chi2_den > 0 for some group)."""
    from zappy_spark.operators.training import (
        logreg_holdout_eval,
        mcnemar_nb_vs_logreg,
        nb_holdout_eval,
    )

    texts = [
        "the quick the text data word",
        "data data noise word filler junk",
        "the the data one two",
        "plain filler words only",
        "the word data data data junk",
        "the data word the odd the mix",
        # y=0 (single 'the') but saturated with class-1 vocabulary:
        # NB's word evidence says keep, the feature rule says drop —
        # the discordant population McNemar exists to count
        "the quick text word quick text word quick text",
    ]
    rows = [
        (i, f"g{i % 2}", texts[i % len(texts)]) for i in range(140)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    mc = {
        r["src"]: r
        for r in mcnemar_nb_vs_logreg(
            df, "text", "doc_id", "src", 0.25, 8, 2
        ).collect()
    }
    nb = {
        r["src"]: r
        for r in nb_holdout_eval(
            df, "text", "doc_id", "src", 0.25
        ).collect()
    }
    lr = {
        r["src"]: r
        for r in logreg_holdout_eval(
            df, "text", "doc_id", "src", 0.25, 8, 2
        ).collect()
    }
    assert set(mc) == set(nb) == set(lr)
    for g, r in mc.items():
        assert r["n_eval"] == nb[g]["n_eval"] == lr[g]["n_eval"]
        assert (
            r["both_right"] + r["nb_only"]
            == nb[g]["tp"] + nb[g]["tn"]
        ), g
        assert (
            r["both_right"] + r["lr_only"]
            == lr[g]["tp"] + lr[g]["tn"]
        ), g
        assert (
            r["both_right"] + r["both_wrong"]
            + r["nb_only"] + r["lr_only"] == r["n_eval"]
        )
        d = r["nb_only"] - r["lr_only"]
        assert r["chi2_num"] == d * d
        assert r["chi2_den"] == r["nb_only"] + r["lr_only"]
    assert any(r["chi2_den"] > 0 for r in mc.values()), (
        "fixture must produce discordant verdicts"
    )


def test_nb_top_features_hand_ranking(spark):
    """v38 on a hand corpus: the keep side must surface the words
    that co-occur with the label, the drop side the anti-words;
    the min-support floor excludes a hapax that would otherwise
    top the keep chart; ranks are 1..k with the word tiebreak."""
    from zappy_spark.operators.training import nb_top_features

    rows = []
    for i in range(60):
        if i % 2 == 0:
            # y=1 docs: 'good' saturates the keep side
            rows.append((i, "the best the good good good"))
        else:
            # y=0 docs: 'bad' saturates the drop side
            rows.append((i, "bad bad bad noise word"))
    # a single y=1 doc with a hapax: ratio (1+1)/(0+1)=2 but
    # support 1 < 5 — must NOT appear
    rows.append((1000, "the rarest the word"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = nb_top_features(
        df, "text", "doc_id", holdout_frac=0.25,
        min_support=5, topk=3,
    ).collect()
    by_side = {}
    for r in got:
        by_side.setdefault(r["side"], []).append(r)
    for side, rs in by_side.items():
        assert [r["rk"] for r in sorted(rs, key=lambda x: x["rk"])] \
            == list(range(1, len(rs) + 1))
    keep_words = {r["word"] for r in by_side["keep"]}
    drop_words = {r["word"] for r in by_side["drop"]}
    assert "good" in keep_words
    assert "bad" in drop_words
    assert "rarest" not in keep_words | drop_words
    # counts are the exact class-conditional token counts
    for r in got:
        assert r["c_keep"] >= 0 and r["c_drop"] >= 0
        assert r["c_keep"] + r["c_drop"] >= 5


def test_kn3_doc_nll_pure_python_replay(spark):
    """t53's two-level KN recursion vs a pure-Python replay on a
    hand corpus engineered to exercise ALL THREE tiers: a scored
    trigram seen in the reference (discounted raw count), one with
    an unseen trigram context but a known bigram continuation
    (backs off to p2), and one whose w2 never appears as a bigram
    context (falls through to the continuation floor p_c)."""
    import math
    from collections import Counter, defaultdict

    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.text import (
        T53_PARAMS,
        _KN3 as _kn3_doc_nll,
        _docs as _kn3_docs,
    )

    texts = [
        "a b c a b c a b d",
        "x y z x y z q a b",
        "a b c x y z w w w",
        "q q a b c z x y",
        "m n o p m n o p q",
    ]
    rows = [
        (
            i,
            "g",
            texts[i % len(texts)]
            # per-doc-unique tail: a non-ref doc's unique trigrams
            # are unseen by construction (each doc's words differ),
            # forcing the p2 and pc backoff tiers
            + (f" u{i} v{i} w{i}" if i >= 30 else ""),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    docs = _kn3_docs(df, "text", "doc_id", "src", 0.5)
    got = {
        r["_id"]: r["_nll"] for r in _kn3_doc_nll(docs).collect()
    }

    # pure-Python replay with the same split
    thr = sample_threshold(0.5)
    ref_ids = {
        r["doc_id"]
        for r in df.filter(
            _hash_key("doc_id") < sample_threshold(0.5)
        ).collect()
    }
    D = float(T53_PARAMS["discount"])
    toks = {i: t.split(" ") for i, _, t in rows}
    tris = {
        i: list(zip(toks[i], toks[i][1:], toks[i][2:]))
        for i in toks
    }
    tri = Counter()
    for i in ref_ids:
        tri.update(tris[i])
    ctx3 = defaultdict(lambda: [0, 0])
    bgc = Counter()
    for (w1, w2, w3), c in tri.items():
        ctx3[(w1, w2)][0] += c
        ctx3[(w1, w2)][1] += 1
        bgc[(w2, w3)] += 1
    ctx2 = defaultdict(lambda: [0, 0])
    uc = Counter()
    for (w2, w3), n in bgc.items():
        ctx2[w2][0] += n
        ctx2[w2][1] += 1
        uc[w3] += 1
    bt = len(bgc)
    vu = len({w for i in ref_ids for w in toks[i]})
    tiers = set()

    def prob(w1, w2, w3):
        pc = (uc.get(w3, 0) + 1.0) / (bt + vu)
        if w2 in ctx2:
            cb, n1p2 = ctx2[w2]
            p2 = (max(bgc.get((w2, w3), 0) - D, 0)
                  + D * n1p2 * pc) / cb
        else:
            p2 = pc
            tiers.add("pc")
        if (w1, w2) in ctx3:
            c3, n1p3 = ctx3[(w1, w2)]
            tiers.add("tri" if (w1, w2, w3) in tri else "p2seen")
            return (max(tri.get((w1, w2, w3), 0) - D, 0)
                    + D * n1p3 * p2) / c3
        tiers.add("p2")
        return p2

    for i in toks:
        if i in ref_ids:
            continue
        cs = Counter(tris[i])
        nll = -sum(
            c * math.log(prob(*g)) for g, c in cs.items()
        ) / sum(cs.values())
        assert abs(got[i] - nll) < 1e-9, i
    # the fixture must actually exercise every tier
    assert {"tri", "p2"} <= tiers, tiers


def test_bigram_doc_nll_pure_python_replay(spark):
    """Per-document nll of the three bigram rungs (t46 add-one, t48
    absolute discounting, t49 Kneser–Ney) vs a pure-Python replay on a
    hand corpus whose scored documents hit every tier: a bigram seen
    in the reference, an unseen bigram in a seen context, and an
    unseen context."""
    import math
    from collections import Counter, defaultdict

    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.text import (
        T53_PARAMS,
        _ABSDISC,
        _ADD1,
        _KN,
        _docs,
    )

    texts = [
        "a b c a b d",
        "b c d a",
        "c a b b",
        "d d a c",
        "x y a b",
    ]
    rows = [
        (
            i,
            "g",
            # per-doc-unique tail: its first bigram has a seen context
            # but is unseen, its second has an unseen context
            texts[i % len(texts)] + (f" u{i} v{i}" if i >= 30 else ""),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "src", "text"])
    docs = _docs(df, "text", "doc_id", "src", 0.5)
    ref_ids = {
        r["doc_id"]
        for r in df.filter(
            _hash_key("doc_id") < sample_threshold(0.5)
        ).collect()
    }
    toks = {i: t.split(" ") for i, _, t in rows}
    big = {i: list(zip(toks[i], toks[i][1:])) for i in toks}
    bc = Counter(g for i in ref_ids for g in big[i])
    uni = Counter(w for i in ref_ids for w in toks[i])
    cc, n1p, cont = Counter(), Counter(), Counter()
    for (w1, w2), c in bc.items():
        cc[w1] += c
        n1p[w1] += 1
        cont[w2] += 1
    D = float(T53_PARAMS["discount"])
    tiers = defaultdict(set)

    def discounted(name, w1, w2, backoff):
        if w1 not in cc:
            tiers[name].add("context")
            return backoff
        tiers[name].add("seen" if (w1, w2) in bc else "unseen")
        return (max(bc[(w1, w2)] - D, 0) + D * n1p[w1] * backoff) / cc[w1]

    probs = {
        "add1": lambda w1, w2: (bc[(w1, w2)] + 1.0) / (cc[w1] + len(cc)),
        "absdisc": lambda w1, w2: discounted(
            "absdisc", w1, w2,
            (uni[w2] + 1.0) / (sum(uni.values()) + len(uni)),
        ),
        "kn": lambda w1, w2: discounted(
            "kn", w1, w2, (cont[w2] + 1.0) / (len(bc) + len(uni))
        ),
    }
    for name, lm in (("add1", _ADD1), ("absdisc", _ABSDISC), ("kn", _KN)):
        got = {r["_id"]: r["_nll"] for r in lm(docs).collect()}
        assert set(got) == set(toks) - ref_ids, name
        for i, nll in got.items():
            cs = Counter(big[i])
            want = -sum(
                c * math.log(probs[name](*g)) for g, c in cs.items()
            ) / sum(cs.values())
            assert abs(nll - want) < 1e-9, (name, i)
    for name in ("absdisc", "kn"):
        assert tiers[name] == {"seen", "unseen", "context"}, tiers


def test_kn3_fit_model_roundtrip_matches_in_pass_verdicts(
    spark, tmp_path
):
    """t53's deployment split: kn3_fit_model written to parquet and
    scored through kn3_ledger_with_model over ONLY the non-ref
    slice must reproduce the in-one-pass t53 ledger's keep/drop
    (and n_docs == n_eval, n_short == n_short) — store-then-score
    == in-one-pass; an empty model hits the loud V guard."""
    import pytest

    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )
    from zappy_spark.operators.text import (
        T53_PARAMS,
        kn3_fit_model,
        kn3_ledger_with_model,
        kn3_perplexity_ledger,
    )

    texts = [
        "a b c a b c a b d",
        "x y z x y z q a b",
        "a b c x y z w w w",
        "q q a b c z x y",
        "m n",  # sub-trigram doc: n_short path
    ]
    rows = [(i, f"g{i % 2}", texts[i % len(texts)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    frac = T53_PARAMS["ref_frac"]
    cut = T53_PARAMS["ppl_cutoff"]

    path = str(tmp_path / "kn3_model")
    kn3_fit_model(df, "text", "doc_id", ref_frac=frac).write.parquet(
        path
    )
    nonref = df.filter(
        ~(_hash_key("doc_id") < sample_threshold(frac))
    )
    got = {
        r["source"]: r
        for r in kn3_ledger_with_model(
            nonref, "text", "doc_id", "source",
            spark.read.parquet(path), ppl_cutoff=cut,
        ).collect()
    }
    want = {
        r["source"]: r
        for r in kn3_perplexity_ledger(
            df, "text", "doc_id", "source",
            ref_frac=frac, ppl_cutoff=cut,
        ).collect()
    }
    assert set(got) == set(want) and got
    for g in want:
        assert got[g]["n_docs"] == want[g]["n_eval"]
        assert got[g]["n_short"] == want[g]["n_short"]
        assert got[g]["n_keep"] == want[g]["n_keep"]
        assert got[g]["n_drop"] == want[g]["n_drop"]

    empty = spark.createDataFrame(
        [], "kind string, g string, c bigint"
    )
    with pytest.raises(Exception, match="kn3_ledger_with_model"):
        kn3_ledger_with_model(
            df, "text", "doc_id", "source", empty
        ).collect()


def test_scoped_caches_release_blocks_after_collect(spark):
    """The multi-consumer intermediates the dedup/text ledger builders
    checkpoint must be READ by the result's action — also through a
    post-processing ``orderBy``/``limit`` on top (d52 lost its chunk
    cache that way under the former weakref-scoped persist) — and
    RELEASED once the caller drops the result, so a 316-entry sweep
    does not accumulate blocks in the shared session."""
    import gc
    import time

    from tests.conftest import SF_SMOKE_DIR
    from zappy_spark.queries import QUERIES

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def _cached() -> set[int]:
        return {info.id() for info in jsc.getRDDStorageInfo()}

    def _persistent() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keys())

    def _checkpoint_rdd_ids(df) -> set[int]:
        # the checkpointed RDDs df's plan reads: its LogicalRDD leaves
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        return {
            leaves.apply(i).rdd().id()
            for i in range(leaves.size())
            if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
        }

    def _scans(df) -> int:
        # after the action AQE prints the final plan, then the initial
        # one; count the final plan's checkpoint reads only
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0].count("Scan ExistingRDD")

    def _gc() -> None:
        gc.collect()
        spark._jvm.System.gc()

    # In a full-suite session earlier tests' localCheckpoint RDDs
    # linger until ContextCleaner drains them, so assert NET growth
    # (settled count back at/below the baseline), not absolute zero.
    _gc()
    time.sleep(0.5)
    base = len(_cached())
    for name in (
        "d06_lsh_neardup_pipeline",  # banded + grams checkpoints
        "d37_prefix_jaccard",  # element-table checkpoint
        "d52_cdc_dedup",  # chunk-frame checkpoint
        "t07_tfidf",  # tf checkpoint
    ):
        before = _persistent()
        out = QUERIES[name](spark, SF_SMOKE_DIR)
        assert out.collect()
        # while the result frame is alive its checkpoints hold blocks
        # and the executed plan reads them
        ids = _checkpoint_rdd_ids(out)
        assert ids and ids <= _persistent() - before, name
        assert ids <= _cached(), f"{name} never materialized {ids}"
        assert _scans(out) >= 2, name
        del out
        # the ContextCleaner releases after a JVM GC drops the plan
        for _ in range(100):
            _gc()
            if len(_cached()) <= base:
                break
            time.sleep(0.1)
        assert len(_cached()) <= base, f"{name} leaked persisted blocks"

    # Two copies of one entry: dropping one must not release the
    # other's intermediate (equal sub-plans shared ONE CacheManager
    # entry under the former persist, which either owner could drop).
    a = QUERIES["d52_cdc_dedup"](spark, SF_SMOKE_DIR)
    b = QUERIES["d52_cdc_dedup"](spark, SF_SMOKE_DIR)
    own_b = _checkpoint_rdd_ids(b)
    assert own_b and not own_b & _checkpoint_rdd_ids(a)
    del a
    _gc()
    time.sleep(0.5)
    assert b.collect()
    assert own_b <= _cached()
    assert _scans(b) >= 2


def test_graph_broadcast_gate_paths_agree(spark):
    """r13 (VERDICT r12 item 1): the node-frame broadcast hints in
    pagerank/label_propagation are gated on node count vs the
    autoBroadcastJoinThreshold budget — a hard F.broadcast has no
    size fallback and OOMs on graph-sized node sets. Both paths
    (tiny-n broadcast / forced-large-n shuffle join) must produce
    the same results."""
    from zappy_spark.operators.graph import (
        _node_broadcast_ok,
        _parse_byte_conf,
        label_propagation,
        pagerank,
    )

    # conf parsing: Spark spellings of byte sizes
    assert _parse_byte_conf("10485760b") == 10 * 1024 * 1024
    assert _parse_byte_conf("10MB") == 10 * 1024 * 1024
    assert _parse_byte_conf("1g") == 1024**3
    assert _parse_byte_conf("-1") == -1
    assert _parse_byte_conf(524288) == 524288
    assert _parse_byte_conf("2pb") == 2 * 1024**5
    assert _parse_byte_conf("1p") == 1024**5
    # unparseable spellings read as disabled (-1): the gate takes the
    # shuffle path instead of raising
    for bad in ("garbage", "", "12zb", "1.5.2m", "nan", "inf"):
        assert _parse_byte_conf(bad) == -1, bad

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 6)],
        "i bigint, j bigint",
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "10485760b")
        assert _node_broadcast_ok(spark, 6)
        pr_b = {
            r["node"]: r["rank"]
            for r in pagerank(edges, exact_iters=4).collect()
        }
        lp_b = {
            r["node"]: r["label"]
            for r in label_propagation(edges, iters=3).collect()
        }
        # force the large-n path: every positive node count exceeds
        # a 1-byte budget
        spark.conf.set(key, "1b")
        assert not _node_broadcast_ok(spark, 6)
        pr_s = {
            r["node"]: r["rank"]
            for r in pagerank(edges, exact_iters=4).collect()
        }
        lp_s = {
            r["node"]: r["label"]
            for r in label_propagation(edges, iters=3).collect()
        }
        # -1 (auto-broadcast disabled) must also take the safe path
        spark.conf.set(key, "-1")
        assert not _node_broadcast_ok(spark, 1)
    finally:
        spark.conf.set(key, prev)
    assert set(pr_b) == set(pr_s)
    for node, rank in pr_b.items():
        assert abs(rank - pr_s[node]) < 1e-12
    assert lp_b == lp_s  # exact-int labels: identical either way
