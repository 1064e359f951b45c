"""D/T/V-series: training-data pipeline operators as corpus entries.

Declared queries over ``documents`` / ``embeddings`` exercising
``zappy_spark.operators`` (dedup, text analysis, similarity). Every
hash function used is md5-over-string, so DuckDB replays the exact
computation — the oracles here verify the *operators themselves*,
not just SQL parity. Entries whose physical plan can't be expressed
portably (random-hyperplane LSH, banded candidate generation) are
rows-only here and property-tested in tests/test_operators.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zappy_spark.operators import dedup, similarity, text
from zappy_spark.operators.sampling import sample_threshold as _sample_threshold
from zappy_spark.queries._util import cosine, t

# ---------------------------------------------------------------- dedup


def d01(spark: SparkSession, d: str) -> DataFrame:
    return (
        dedup.exact_dedup(t(spark, d, "documents"), "text", "doc_id")
        .orderBy("h")
        .limit(100)
    )


def d02(spark: SparkSession, d: str) -> DataFrame:
    sig = dedup.minhash_signature(
        t(spark, d, "documents"), "text", "doc_id", num_hashes=4, k=3
    )
    return (
        sig.select(
            "doc_id",
            *[F.element_at("sig", i + 1).alias(f"s{i}") for i in range(4)],
        )
        .orderBy("doc_id")
        .limit(100)
    )


def d03(spark: SparkSession, d: str) -> DataFrame:
    return (
        dedup.simhash_bits(t(spark, d, "documents"), "text", "doc_id", bits=16)
        .orderBy("doc_id")
        .limit(100)
    )


def d04(spark: SparkSession, d: str) -> DataFrame:
    """Exact n-gram Jaccard between consecutive doc ids (the verify
    stage of near-dup, run on a deterministic linear pairing)."""
    docs = t(spark, d, "documents")
    grams = docs.select(
        "doc_id", dedup.word_shingles(F.col("text"), 3).alias("grams")
    ).filter(F.size("grams") > 0)
    a = grams.select(F.col("doc_id").alias("i"), F.col("grams").alias("ga"))
    b = grams.select(F.col("doc_id").alias("j"), F.col("grams").alias("gb"))
    return (
        a.join(b, F.col("j") == F.col("i") + 1)
        .select("i", F.round(dedup.ngram_jaccard("ga", "gb"), 6).alias("jac"))
        .orderBy("i")
        .limit(100)
    )


def d05(spark: SparkSession, d: str) -> DataFrame:
    """Embedding-cosine near-dup: top pairs by similarity (exact).

    r12 shape: per-row norms are projected BEFORE the pair join —
    ``dot/(na·nb)`` is bit-identical to ``cosine(va, vb)`` (same
    values through the same multiply and divide) but computes each
    norm n times instead of n² — the streamed side is spread
    across cores (guide §2.5; single-row-group input would run the
    whole O(n²) loop in one task), and the other side is
    explicitly broadcast so the nested-loop build side can never
    flip onto the spread side (the l06 lesson: a flip serializes
    the pair loop into one task)."""
    from zappy_spark.queries._util import spread
    from zappy_spark.operators.vecmath import EMBED_DIM, dot, norm

    emb = t(spark, d, "embeddings")
    a = spread(emb).select(
        F.col("vec_id").alias("i"),
        F.col("embedding").alias("va"),
        norm("embedding").alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("j"),
        F.col("embedding").alias("vb"),
        norm("embedding").alias("_nb"),
    )
    return (
        a.join(F.broadcast(b), F.col("i") < F.col("j"))
        .select(
            "i",
            "j",
            F.round(
                dot("va", "vb", dim=EMBED_DIM) / (F.col("_na") * F.col("_nb")), 4
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), "i", "j")
        .limit(20)
    )


def d06(spark: SparkSession, d: str) -> DataFrame:
    """MinHash-LSH near-dup pipeline end-to-end — signatures, banded
    bucket join, exact-Jaccard verify. Fully oracle-checked: every
    hash is portable md5, so DuckDB replays the identical pipeline
    (signature → band → candidate → verify) and must produce the
    same pair set. Instrument bounded to ``doc_id < 5000`` (a no-op
    at every testdata SF — see d14's docstring; at the 100x fixture
    the unbounded twin exceeded 1800 s in DuckDB)."""
    pairs = dedup.near_dup_pairs(
        t(spark, d, "documents").filter(F.col("doc_id") < 5000),
        "text",
        "doc_id",
        threshold=0.5,
    )
    return pairs.select(
        "i", "j", F.round("jac", 6).alias("jac")
    ).orderBy("i", "j")


# ----------------------------------------------------------- text ops


def d14(spark: SparkSession, d: str) -> DataFrame:
    """Anchored containment dedup (round 4): the banded pipeline plus
    the bounded gram-prefix (bottom-q MinHash) candidate path — the
    scale-correct recall fix for tiny-in-huge embeddings that Jaccard
    banding provably misses (dedup.containment_anchor_candidates).
    The DuckDB twin replays anchors, df-capped inverted index, and
    the exact containment verify. Instrument bounded to
    ``doc_id < 5000`` (a no-op at every testdata SF): on the
    replica-dense synth fixtures the true pair count is ~1e8, not a
    collectable gate — the r26/v24 bound-the-instrument doctrine."""
    pairs = dedup.containment_pairs(
        t(spark, d, "documents").filter(F.col("doc_id") < 5000),
        "text",
        "doc_id",
        threshold=0.5,
        num_hashes=16,
        bands=4,
        anchors=4,
    )
    return pairs.select(
        "i", "j", F.round("cont", 6).alias("cont")
    ).orderBy("i", "j")


def d15(spark: SparkSession, d: str) -> DataFrame:
    """Weighted sampling without replacement (round 4;
    operators/sampling.py::weighted_sample_exact): Efraimidis–
    Spirakis race keyed on md5(doc_id), weight = document length —
    the "sample long documents preferentially" knob of a data
    mixture. Global k-smallest compiles to TakeOrderedAndProject;
    the DuckDB twin replays hash → uniform → -ln(u)/w exactly."""
    from zappy_spark.operators.sampling import weighted_sample_exact

    docs = t(spark, d, "documents").withColumn(
        "wt", F.length("text").cast("double")
    )
    return (
        weighted_sample_exact(docs, "doc_id", "wt", 25)
        .select(
            "doc_id",
            F.col("wt").cast("bigint").alias("n_chars"),
            "aes_key",
        )
        .orderBy("aes_key", "doc_id")
    )


def d16(spark: SparkSession, d: str) -> DataFrame:
    """SemDeDup-style semantic dedup (round 4;
    operators/dedup.py::semantic_dup_flags): cluster-bounded cosine
    keep-first flags — pairwise work confined to each cluster. The
    cluster column here is the corpus ``label`` (deterministic, so
    DuckDB replays it); the 100 TB path swaps in
    ``kmeans_assign``'s learned clusters with identical plan shape.
    Output is the per-cluster dedup ledger."""
    emb = t(spark, d, "embeddings")
    flags = dedup.semantic_dup_flags(
        emb, "embedding", "vec_id", "label", threshold=0.9
    )
    return (
        flags.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_semantic_dup").cast("bigint")).alias("n_dup"),
        )
        .orderBy("label")
    )


def d17(spark: SparkSession, d: str) -> DataFrame:
    """Span-level corpus dedup stats (round 4;
    operators/dedup.py::span_stats): C4-style line dedup reshaped to
    3-token non-overlapping spans; per-doc counts of spans shared
    verbatim with other docs. Two narrow shuffles (span-hash agg +
    co-partitioned join back)."""
    return (
        dedup.span_stats(t(spark, d, "documents"), "text", "doc_id", span=3)
        .orderBy(F.desc("shared_ratio"), "doc_id")
        .limit(100)
    )


def t01(spark: SparkSession, d: str) -> DataFrame:
    docs = t(spark, d, "documents")
    return (
        docs.select(
            "doc_id",
            # bigint: Spark size()→INT vs DuckDB len()→BIGINT — width
            # alignment for dtype parity (tests/test_dtypes.py)
            text.token_count_ws("text").cast("bigint").alias("n_ws"),
            text.token_count_re("text").cast("bigint").alias("n_re"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


def t02(spark: SparkSession, d: str) -> DataFrame:
    feat = text.quality_features(t(spark, d, "documents"), "text")
    return (
        feat.select(
            "doc_id",
            F.col("q_words").cast("bigint").alias("q_words"),
            "q_mean_word_len",
            "q_punct_ratio",
            "q_alpha_ratio",
            "q_stopword_ratio",
        )
        .orderBy("doc_id")
        .limit(100)
    )


def t03(spark: SparkSession, d: str) -> DataFrame:
    return (
        text.fingerprint(t(spark, d, "documents"), "text", "doc_id", k=8)
        .orderBy("doc_id")
        .limit(100)
    )


def t04(spark: SparkSession, d: str) -> DataFrame:
    """Language-ID heuristic. Oracle-bearing since round 4 (VERDICT
    r3 next-5): the profile weights are literals, so the per-language
    stopword-ratio scores and the (score DESC, lang ASC) argmax are
    SQL-expressible — the DuckDB twin replays them from the same
    LANG_PROFILES constants. Accuracy on real-language samples stays
    unit-tested in test_operators."""
    pred = text.lang_id(t(spark, d, "documents"), "text")
    return (
        pred.select("doc_id", "lang_pred", "lang_conf")
        .orderBy("doc_id")
        .limit(100)
    )


def t05(spark: SparkSession, d: str) -> DataFrame:
    """Edit distance between consecutive docs (capped prefix — the
    classic fuzzy-match verify primitive; full-text edit distance is
    O(len²) per pair, so production use is on bounded fields)."""
    docs = t(spark, d, "documents")
    a = docs.select(F.col("doc_id").alias("i"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("j"), F.col("text").alias("tb"))
    return (
        a.join(b, F.col("j") == F.col("i") + 1)
        .select(
            "i",
            F.levenshtein(
                F.substring("ta", 1, 40), F.substring("tb", 1, 40)
            ).cast("bigint").alias("d"),
        )
        .orderBy("i")
        .limit(100)
    )


def t06(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic content-hash train/val split distribution."""
    from zappy_spark.operators.pipeline import content_split

    docs = content_split(t(spark, d, "documents"), "text")
    return (
        docs.groupBy("split")
        .agg(F.count("*").alias("c"), F.min("doc_id").alias("mn"))
        .orderBy("split")
    )


def d07(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic hash sampling — scan-side filter, no shuffle,
    append-stable (same id keeps its verdict as the corpus grows)."""
    from zappy_spark.operators.sampling import hash_sample

    return (
        hash_sample(t(spark, d, "documents"), "doc_id", 0.25)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(100)
    )


def d08(spark: SparkSession, d: str) -> DataFrame:
    """Exact per-stratum sampling: precisely min(k, |stratum|) rows
    per lang, ranked by id hash — reproducible reservoir-k."""
    from zappy_spark.operators.sampling import stratified_sample_exact

    out = stratified_sample_exact(
        t(spark, d, "documents"), "doc_id", "lang", k=5
    )
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


def t07(spark: SparkSession, d: str) -> DataFrame:
    """TF-IDF top terms (smooth idf, sklearn convention)."""
    from zappy_spark.operators.text import tf_idf

    out = tf_idf(t(spark, d, "documents"), "text", "doc_id")
    return (
        out.select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round("tfidf", 6).alias("ti"),
        )
        .orderBy(F.desc("ti"), "term", "doc_id")
        .limit(50)
    )


def t08(spark: SparkSession, d: str) -> DataFrame:
    """PII redaction parity: plant a synthetic email+URL derived from
    the doc id (testdata has no organic PII), scrub, verify both
    regexes replace identically across engines."""
    from zappy_spark.operators.text import redact_pii

    docs = t(spark, d, "documents")
    planted = F.concat(
        F.substring("text", 1, 40),
        F.lit(" mail user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or https://ex.com/u/"),
        F.col("doc_id").cast("string"),
        F.lit(" end"),
    )
    return (
        docs.select("doc_id", redact_pii(planted).alias("clean"))
        .orderBy("doc_id")
        .limit(100)
    )


def t09(spark: SparkSession, d: str) -> DataFrame:
    """Context-window chunking (operators/text.py::chunk_tokens):
    max 30 tokens per chunk, 6-token overlap — every token covered,
    consecutive chunks share the overlap. Scan-side explode; the
    oracle replays the identical slice arithmetic on DuckDB lists."""
    from zappy_spark.operators.text import chunk_tokens

    return (
        chunk_tokens(
            t(spark, d, "documents"), "text", "doc_id", max_tokens=30, overlap=6
        )
        .orderBy("doc_id", "chunk_id")
        .limit(200)
    )


# -------------------------------------------------------- similarity


def t15(spark: SparkSession, d: str) -> DataFrame:
    """Corpus-level vocabulary profile (round 4b): vocab size, total
    token count, and the coverage of the top-10 tokens — the
    corpus-health readout (a collapsing vocabulary or a top-10 that
    covers 90% of tokens means scrape rot). ONE (token) hash
    aggregate with map-side partials; the top-10 and the totals are
    both derived from it, so the token stream shuffles once."""
    docs = t(spark, d, "documents")
    cnt = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("tk")
        )
        .groupBy("tk")
        .agg(F.count("*").alias("c"))
    )
    totals = cnt.agg(
        F.count("*").alias("vocab"),
        F.sum("c").alias("total"),
    )
    top10 = cnt.orderBy(F.desc("c"), "tk").limit(10).agg(
        F.sum("c").alias("top10_tokens")
    )
    return (
        totals.crossJoin(top10)
        .select(
            "vocab",
            "total",
            "top10_tokens",
            F.round(F.col("top10_tokens") / F.col("total"), 4).alias(
                "top10_coverage"
            ),
        )
    )


def t16(spark: SparkSession, d: str) -> DataFrame:
    """Unigram entropy per document (round 4;
    operators/text.py::token_entropy): word-soup detector — two
    count-only shuffles, text never re-shuffles."""
    return (
        text.token_entropy(t(spark, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
        .limit(100)
    )


def t17(spark: SparkSession, d: str) -> DataFrame:
    """Type-token ratio + hapax stats (round 4;
    operators/text.py::lexical_diversity): lexical-richness quality
    filter, same two-shuffle count shape as t16."""
    return (
        text.lexical_diversity(t(spark, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
        .limit(100)
    )


def d18(spark: SparkSession, d: str) -> DataFrame:
    """Token-set fingerprint dedup groups (round 4;
    operators/dedup.py::fingerprint_dup_groups): the normalized-
    exact tier — word order / repetition / whitespace variants
    collapse to one md5 key, ONE hash aggregate at any scale."""
    return (
        dedup.fingerprint_dup_groups(
            t(spark, d, "documents"), "text", "doc_id"
        )
        .orderBy("keep_id")
        .limit(100)
    )


def d19(spark: SparkSession, d: str) -> DataFrame:
    """Connected-components dedup closure (round 4;
    operators/graph.py::connected_components over
    dedup.span_edges): the transitive-closure step pair-based dedup
    gets wrong — (a,b) and (b,c) near-dups put a,b,c in ONE cluster.
    First driver-oracled iterative algorithm in the corpus: Spark
    runs min-label propagation (join+agg per round, localCheckpoint
    lineage cuts); the DuckDB twin computes the same closure with a
    recursive CTE. Edges are df-capped shared-span pairs, so bucket
    fan-out is bounded at C(max_df, 2) per span."""
    from zappy_spark.operators.graph import connected_components

    edges = dedup.span_edges(
        t(spark, d, "documents"),
        "text",
        "doc_id",
        span=3,
        min_shared=3,
        max_df=8,
    )
    return (
        connected_components(edges, "i", "j")
        .select(F.col("node").alias("doc_id"), "component")
        .orderBy("doc_id")
        .limit(200)
    )


def d21(spark: SparkSession, d: str) -> DataFrame:
    """Dup-graph degree distribution (round 4b): how many documents
    share spans with how many others — the triage readout before
    running the CC closure (a heavy-tailed degree histogram means
    boilerplate is slipping past the df-cap). Two count-only
    aggregates over the d19 edge set."""
    edges = dedup.span_edges(
        t(spark, d, "documents"),
        "text",
        "doc_id",
        span=3,
        min_shared=3,
        max_df=8,
    )
    deg = (
        edges.select(F.col("i").alias("node"))
        .unionAll(edges.select(F.col("j").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )


def d22(spark: SparkSession, d: str) -> DataFrame:
    """End-to-end declarative corpus prep (round 4b): Gopher quality
    gate → token-set fingerprint dedup (keep min id) → deterministic
    50% hash sample → per-source ledger with token totals. The whole
    training-data front door as ONE Catalyst plan — every stage is
    the already-oracled operator (t19, d18, d07 spellings), so the
    composition is replayed end-to-end in SQL and hash-checked.
    Scale: quality+sample are scan-side filters; dedup is the one
    16-byte hash aggregate; the ledger is a 20-key aggregate."""
    from zappy_spark.operators.sampling import (
        hash_sample,
    )

    docs = t(spark, d, "documents")
    kept = (
        text.gopher_quality(docs, "text", "doc_id")
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    quality = docs.join(kept, "doc_id")
    fp = dedup.content_key("text", "fingerprint")
    keep_min = (
        quality.select(fp.alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    survivors = quality.withColumn("fp", fp).join(keep_min, "fp").filter(
        F.col("doc_id") == F.col("keep_id")
    )
    sampled = hash_sample(survivors, "doc_id", 0.5)
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    return (
        sampled.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_tok.cast("bigint")).alias("n_tokens"),
        )
        .orderBy("source")
    )


def d23(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic train/val/test split (round 4c;
    operators/sampling.py::multi_split): 80/10/10 by id-hash
    cumulative thresholds — one scan-side CASE, no shuffle before
    the per-(split, lang) ledger aggregate; disjoint and
    append-stable, so a grown corpus never migrates an id between
    splits (the property that keeps eval sets honest across dataset
    versions). Oracle embeds the identical 'cccccccc'/'e6666666'
    thresholds (= sample_threshold(0.8/0.9))."""
    from zappy_spark.operators.sampling import multi_split

    docs = multi_split(
        t(spark, d, "documents"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return (
        docs.groupBy("split", "lang")
        .agg(F.count("*").alias("n"))
        .orderBy("split", "lang")
    )


def d24(spark: SparkSession, d: str) -> DataFrame:
    """Fractional benchmark decontamination (round 4c;
    operators/dedup.py::decontaminate_frac): where d10 drops on ANY
    shared 3-gram, this drops only when > 2% of a doc's distinct
    grams hit the benchmark set (threshold picked off the corpus
    frac distribution — p75 is 1.6%, p99 7.7% — so the gate splits
    ~20% off instead of firing vacuously) — the graded recipe real pipelines
    use, since any-overlap over-fires on stopword runs. Same scale
    shape: broadcast benchmark gram set, one corpus explode, one
    per-doc count aggregate, anti-join; the corpus never self-joins.
    Returns the per-source survivor ledger."""
    docs = t(spark, d, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 7)
    corpus = docs.filter(F.col("doc_id") % 100 != 7)
    kept = dedup.decontaminate_frac(
        corpus, bench, "text", "doc_id", k=3, max_frac=0.02
    )
    return (
        kept.groupBy("source")
        .agg(F.count("*").alias("n"))
        .orderBy("source")
    )


def m01(spark: SparkSession, d: str) -> DataFrame:
    """Multimodal chunk-plan ledger (round 4c): treat each document's
    bytes as an opaque binary payload (the multimodal column
    contract — operators/multimodal.py) and expand it into fixed
    256-byte chunk rows via sequence+explode, exactly like
    audio_chunk_plan; the per-source ledger proves the training-
    loader contract Σ chunk_bytes == Σ payload_bytes (the last chunk
    truncates). Pure JVM expression work — the payload itself is
    never opened, which is the point: chunk planning at 100 TB reads
    metadata, not media."""
    docs = t(spark, d, "documents")
    nb = F.length(F.col("text").cast("binary")).cast("bigint")
    n_chunks = F.ceil(nb / F.lit(256.0)).cast("int")
    base = docs.select(
        "source",
        nb.alias("_nb"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
    )
    chunk_bytes = F.least(
        F.lit(256).cast("bigint"), F.col("_nb") - F.col("i") * 256
    )
    return (
        base.groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(chunk_bytes).alias("bytes"),
            F.max(F.col("i").cast("bigint")).alias("mx"),
        )
        .orderBy("source")
    )


def v18(spark: SparkSession, d: str) -> DataFrame:
    """Matryoshka prefix-dim retrieval (round 5;
    operators/similarity.py::matryoshka_topk): coarse rank on the
    first 16 of 64 dims → 50-candidate shortlist → exact full-dim
    re-rank, query = stored vector 7 (fetched driver-side via
    pyarrow, ships as a literal — the l02 pattern). The zero-index
    ANN tier: same scan-then-rerank shape as IVF/PQ but usable the
    moment vectors land. Both passes are TakeOrderedAndProject."""
    import pyarrow.dataset as ds

    tab = ds.dataset(f"{d}/embeddings.parquet").to_table(
        filter=ds.field("vec_id") == 7, columns=["embedding"]
    )
    qv = [float(x) for x in tab.column(0)[0].as_py()]
    emb = t(spark, d, "embeddings").filter(F.col("vec_id") != 7)
    return similarity.matryoshka_topk(
        emb, "embedding", "vec_id", qv, prefix_dim=16, shortlist=50, k=10
    )


def d28(spark: SparkSession, d: str) -> DataFrame:
    """Exact triangle count (round 5; operators/graph.py::
    triangle_count) over the part co-purchase graph (parts linked
    when some order contains both; subgraph capped at partkey<500 so
    the declared entry stays a bounded correctness check at any SF).
    Spark runs the degree-ordered orientation (O(m^1.5) wedge bound
    — survives power-law hubs); the oracle replays with plain id
    ordering, legal because the COUNT is orientation-invariant even
    though the cost is not. Third graph primitive next to the CC
    closure (d19) and PageRank (v16): triangle density separates
    template families from chains in near-dup clusters."""
    from zappy_spark.operators.graph import triangle_count

    lp = (
        t(spark, d, "lineitem")
        .filter(F.col("l_partkey") < 500)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        lp.alias("a")
        .join(
            lp.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("i"), F.col("b.l_partkey").alias("j")
        )
    )
    return triangle_count(pairs, "i", "j")


def v19(spark: SparkSession, d: str) -> DataFrame:
    """kNN-graph communities via synchronous label propagation
    (round 5b; operators/graph.py::label_propagation): mutual
    structure in embedding space without a cluster-count parameter —
    build the directed top-3 cosine kNN graph over the first 500
    vectors (dense ids at every fixture vintage; ranking on the
    4dp-rounded similarity with id tie-break, the v08 determinism
    contract), symmetrize, then 5 LPA rounds (mode-of-neighbors,
    ties to the smaller label). The ledger is community sizes ≥ 2 —
    ~40 communities of 2–60 members at every SF, so the check is
    non-vacuous. Fourth graph primitive next to the CC closure
    (d19), PageRank (v16) and triangles (d28); the oracle replays
    the full pipeline — kNN ranking AND the 5 fixed rounds — as one
    recursive CTE. At scale the kNN build swaps for the IVF/LSH
    candidate generators; LPA's per-round cost is one edge join +
    one count aggregate, hash-partitioned on node ids."""
    from zappy_spark.operators.graph import label_propagation
    from zappy_spark.operators.vecmath import EMBED_DIM, dot, norm
    from zappy_spark.queries._util import spread

    emb = t(spark, d, "embeddings").filter(F.col("vec_id") < 500)
    # r12: the d05 pair-loop shape — per-row norms before the
    # quadratic join (dot/(na·nb) is bit-identical to cosine),
    # spread streamed side, pinned broadcast side, opt-in unrolled
    # dot (250k pair evaluations).
    a = spread(emb).select(
        F.col("vec_id").alias("i"),
        F.col("embedding").alias("ea"),
        norm("embedding").alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("j"),
        F.col("embedding").alias("eb"),
        norm("embedding").alias("_nb"),
    )
    scored = a.join(F.broadcast(b), F.col("i") != F.col("j")).select(
        "i",
        "j",
        F.round(
            dot("ea", "eb", dim=EMBED_DIM) / (F.col("_na") * F.col("_nb")),
            4,
        ).alias("sim"),
    )
    w = Window.partitionBy("i").orderBy(F.desc("sim"), "j")
    knn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("i", "j")
    )
    labels = label_propagation(knn, "i", "j", iters=5)
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select(F.col("label").alias("community"), "n")
        .orderBy(F.desc("n"), "community")
        .limit(100)
    )


def d31(spark: SparkSession, d: str) -> DataFrame:
    """Rendezvous-sharding stability ledger (round 5b;
    operators/layout.py::rendezvous_shard): assign every document to
    8 shards and to 9, then count per-8-shard how many rows the 8→9
    growth moves. Highest-random-weight placement moves only the
    rows whose NEW hash wins — expected 1/9 ≈ 11% (measured 11.0 –
    12.2% across fixtures), all onto the new shard — where modulo
    placement would reshuffle 8/9 of the corpus; that stability is
    what makes incremental re-sharding and partitioned-index growth
    cheap. Both assignments are pure scan-side md5-argmax
    projections (zero shuffles before the 8-row ledger aggregate);
    the oracle replays the argmax via struct MAX over
    generate_series."""
    from zappy_spark.operators.layout import rendezvous_shard

    docs = t(spark, d, "documents").select("doc_id")
    d8 = rendezvous_shard(docs, "doc_id", 8, "sh8")
    d89 = rendezvous_shard(d8, "doc_id", 9, "sh9")
    return (
        d89.groupBy("sh8")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("sh9") != F.col("sh8")).cast("bigint")
            ).alias("n_moved"),
        )
        .select(F.col("sh8").alias("shard"), "n", "n_moved")
        .orderBy("shard")
    )


def v20(spark: SparkSession, d: str) -> DataFrame:
    """HITS authority scoring (round 5b; operators/graph.py::
    hits_bipartite) on the bipartite order→part purchase graph
    (l_partkey < 500 cap, the d28/v19 bounded-subgraph convention):
    which parts are bought by the broadest baskets — the
    hub/authority dual of PageRank's single importance score, the
    seed-discovery primitive of citation/link curation. Three
    authority rounds with UNNORMALIZED INTEGER accumulation
    (ranking-equivalent to textbook HITS, since per-round L2
    normalization only rescales): integer sums are exact and
    order-independent, so the alternating recursive-CTE oracle
    replays bit-for-bit — no float, no rounding boundary, anywhere.
    Fifth graph primitive next to CC (d19), PageRank (v16),
    triangles (d28) and LPA communities (v19)."""
    from zappy_spark.operators.graph import hits_bipartite

    e = (
        t(spark, d, "lineitem")
        .filter(F.col("l_partkey") < 500)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    )
    auth = hits_bipartite(e, "o", "p", iters=3)
    return (
        auth.select(F.col("node").alias("part"), "auth")
        .orderBy(F.desc("auth"), "part")
        .limit(50)
    )


def v21(spark: SparkSession, d: str) -> DataFrame:
    """Multi-source BFS blast radius (round 5c; operators/graph.py::
    bfs_hops) on the part co-purchase graph (d28's bounded
    l_partkey<500 subgraph): minimum hop distance from the seed set
    {parts with id < 20} — the "everything within k links of a
    known-bad seed" contamination/spam query. Exactly 3 fixed
    rounds, each one join + one min-agg hash-partitioned on the node
    id (two (node,hops)-pair shuffles per round at any scale),
    lineage cut per round; fixed-round exactness (a node at distance
    d is final after round d) is what lets a bounded recursive CTE
    replay it. Distances are integers — no float anywhere. Sixth
    graph primitive next to CC (d19), PageRank (v16), triangles
    (d28), LPA (v19) and HITS (v20). Output: nodes per hop level."""
    from zappy_spark.operators.graph import bfs_hops

    lp = (
        t(spark, d, "lineitem")
        .filter(F.col("l_partkey") < 500)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        lp.alias("a")
        .join(
            lp.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("i"), F.col("b.l_partkey").alias("j")
        )
    )
    nodes = pairs.select(F.col("i").alias("n")).union(
        pairs.select(F.col("j").alias("n"))
    )
    seeds = nodes.filter(F.col("n") < 20).distinct()
    dist = bfs_hops(pairs, seeds, "i", "j", max_hops=3)
    return (
        dist.groupBy("hops")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("hops")
    )


def d32(spark: SparkSession, d: str) -> DataFrame:
    """DSIR importance weighting (round 5c; operators/sampling.py::
    dsir_weights): rank the corpus by hashed-bigram log-likelihood
    ratio against the English subset as the target — the public
    Data-Selection-via-Importance-Resampling recipe that steers a
    100 TB crawl toward a target domain without a trained
    classifier. 256 md5-prefix feature buckets (portable string
    keys), Laplace smoothing 1.0; the bucket LUT is broadcast, the
    text never re-shuffles. Weight is round-6 then sorted
    (round-then-sort: the cross-engine cut is deterministic);
    top-100 with doc_id tie-break."""
    from zappy_spark.operators.sampling import dsir_weights

    docs = t(spark, d, "documents").withColumn(
        "_is_en", F.col("lang") == "en"
    )
    w = dsir_weights(docs, "text", "doc_id", "_is_en", prefix_len=2)
    return (
        w.select(
            "doc_id",
            "n_grams",
            F.round("dsir_logratio", 6).alias("dsir_logratio"),
        )
        .orderBy(F.desc("dsir_logratio"), "doc_id")
        .limit(100)
    )


def t23(spark: SparkSession, d: str) -> DataFrame:
    """Bigram-LM quality scoring (round 5c; operators/text.py::
    bigram_nll): per-doc average negative log-likelihood under the
    corpus add-one bigram model — the word-order-aware sibling of
    t20's unigram perplexity (shuffled/garbled text scores high even
    with a normal unigram profile). Count-only shuffles end to end;
    nll rounded to 4 (the t20 precision precedent)."""
    from zappy_spark.operators.text import bigram_nll

    return (
        bigram_nll(t(spark, d, "documents"), "text", "doc_id")
        .select("doc_id", "n_bigrams", F.round("nll", 4).alias("nll"))
        .orderBy("doc_id")
        .limit(100)
    )


def d33(spark: SparkSession, d: str) -> DataFrame:
    """Blocked fuzzy matching (round 5c; operators/dedup.py::
    fuzzy_blocked_pairs): record-linkage-style near-dup discovery —
    block on (lang, first token, 32-char length bucket), verify with
    Levenshtein on the 40-char prefix, keep dist ≤ 20. The
    complement to MinHash (d02/d06): edit distance catches
    char-level mutations (OCR noise, truncation) that token
    shingles miss. Never all-pairs: one equi-join on the block key
    with a flood guard on degenerate blocks. Integer distances —
    deterministic cut."""
    from zappy_spark.operators.dedup import fuzzy_blocked_pairs

    pairs = fuzzy_blocked_pairs(
        t(spark, d, "documents"),
        "text",
        "doc_id",
        block_cols=("lang",),
        prefix=40,
        max_dist=20,
    )
    return pairs.orderBy("dist", "i", "j").limit(100)


def v22(spark: SparkSession, d: str) -> DataFrame:
    """MMR-diversified retrieval (round 5c; operators/similarity.py
    ::mmr_rerank): top-20 cosine shortlist for the vec_id=7 query
    (the v18 convention), then greedy Maximal-Marginal-Relevance
    selection of 5 with λ=0.7 — the anti-redundancy re-rank every
    RAG/eval pipeline ships on near-dup-heavy corpora. The scan and
    the shortlist pairwise sims are distributed; the greedy loop is
    a bounded driver-side rerank over round-6 values with id
    tie-breaks, replayed exactly by a recursive-CTE oracle (the
    third iterative family: greedy selection, after propagation d19/
    v16 and alternating v20)."""
    import pyarrow.dataset as ds

    from zappy_spark.operators.similarity import mmr_rerank

    tab = ds.dataset(f"{d}/embeddings.parquet").to_table(
        filter=ds.field("vec_id") == 7, columns=["embedding"]
    )
    qv = [float(x) for x in tab.column(0)[0].as_py()]
    emb = t(spark, d, "embeddings").filter(F.col("vec_id") != 7)
    # mu passed as the literal 0.3 to match the oracle's hardcoded
    # 0.3 exactly — (1.0 - 0.7) is 0.30000000000000004 (ADVICE r5).
    return mmr_rerank(
        emb, "embedding", "vec_id", qv, shortlist=20, k=5, lam=0.7,
        mu=0.3,
    )


def m03(spark: SparkSession, d: str) -> DataFrame:
    """Frame-sampled multimodal decode (round 5c; operators/
    multimodal.py::sample_frame_features): document bytes stand in
    for video payloads (32-byte "frames", every 4th sampled), the
    REAL Arrow mapInPandas flatMap runs the deterministic byte-sum
    "decode" per sampled frame — the per-frame (not per-clip)
    decode shape a video training pipeline needs, value-checked
    end-to-end through the Python worker (the m02 trick, extended
    from one row per media to k frame rows per media). ASCII text
    makes char codes == utf-8 bytes, so the oracle replays the
    frame sums character-by-character in SQL."""
    from zappy_spark.operators import multimodal

    media = t(spark, d, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return (
        multimodal.sample_frame_features(media, frame_bytes=32, every_n=4)
        .orderBy("media_id", "frame_idx")
        .limit(200)
    )


def d34(spark: SparkSession, d: str) -> DataFrame:
    """Token-budget mixing quota (round 5c; operators/sampling.py::
    token_budget_select): per language keep the highest-value docs
    (n_chars desc, doc_id tie-break) while the running whitespace
    token count stays ≤ 500 — the "N tokens per domain" selection
    every mixture recipe needs, as one window pass (the weighted
    sibling of d30's row-count cap). Budget binds at every test SF
    (≈750+ tokens per lang at sf0.001). Integer counts only."""
    from zappy_spark.operators.sampling import token_budget_select

    docs = t(spark, d, "documents").withColumn(
        "_tok", F.size(F.split("text", " ")).cast("bigint")
    )
    kept = token_budget_select(
        docs,
        ("lang",),
        "_tok",
        (F.desc("n_chars"), F.asc("doc_id")),
        budget=500,
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("_tok").alias("tokens_kept"),
            F.max("_cum_w").alias("budget_used"),
        )
        .orderBy("lang")
    )


def v23(spark: SparkSession, d: str) -> DataFrame:
    """Binary-quantized retrieval (round 5c; operators/similarity.py
    ::sign_hamming_topk): 1 sign bit per dimension packed into two
    BIGINT words by an exact Horner fold, Hamming-distance shortlist
    of 20 (integer keys + id tie-break — a TakeOrderedAndProject
    heap, zero float), exact-cosine re-rank to top 5 — the cheapest
    ANN tier (8 bytes/vector, XOR+popcount) below RP-LSH (v02), PQ
    (v13/v14) and IVF (v09): the first-stage filter a 100 TB
    embedding store scans. Query = vec_id 7 (v18/v22 convention)."""
    import pyarrow.dataset as ds

    from zappy_spark.operators.similarity import sign_hamming_topk

    tab = ds.dataset(f"{d}/embeddings.parquet").to_table(
        filter=ds.field("vec_id") == 7, columns=["embedding"]
    )
    qv = [float(x) for x in tab.column(0)[0].as_py()]
    emb = t(spark, d, "embeddings").filter(F.col("vec_id") != 7)
    return sign_hamming_topk(
        emb, "embedding", "vec_id", qv, shortlist=20, k=5
    )


def d35(spark: SparkSession, d: str) -> DataFrame:
    """Portable Bloom-filter membership gate (round 5c; operators/
    sketches.py::bloom_build/bloom_might_contain): build a 256-bit
    k=3 filter over the "seen" docs (doc_id mod 3 ≠ 0), probe the
    whole corpus, and tabulate (is_member × bloom_hit) counts — the
    approximate-membership primitive that replaces a 100 TB
    incremental-dedup anti-join with an 8-word broadcast. The md5
    hash family + 32-bit bit_or words are engine-portable, so the
    oracle replays the FILTER ITSELF bit-for-bit, proving the
    no-false-negative contract in the driver row (every member row
    must land in hit=true) rather than asserting it. The filter
    rides the probe as 8 integer literals (a bounded driver fetch,
    the query-vector precedent). The declared 256-bit size keeps the
    entry a bounded correctness check at any SF — at sf0.1+ the
    filter saturates (every non-member a false positive, still zero
    false negatives), which is itself the honest behavior; real
    deployments size m ∝ n (the test suite pins a 4096-bit filter's
    FP rate under 5%)."""
    from zappy_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    docs = t(spark, d, "documents")
    members = docs.filter(F.col("doc_id") % 3 != 0)
    words = bloom_build(members, "doc_id", n_bits=256, k=3).first()
    probed = bloom_might_contain(
        docs.withColumn("is_member", F.col("doc_id") % 3 != 0),
        "doc_id",
        words,
        n_bits=256,
        k=3,
    )
    return (
        probed.groupBy("is_member", "bloom_hit")
        .agg(F.count("*").alias("n"))
        .orderBy("is_member", "bloom_hit")
    )


def t25(spark: SparkSession, d: str) -> DataFrame:
    """CMS heavy-hitters attestation (round 5c; operators/
    sketches.py::cms_build/cms_frequencies — the r81/v07 trick
    applied to Count-Min): exact top-10 corpus tokens (portable,
    oracle-checkable) plus booleans attesting the JVM Count-Min
    sketch honored its contract on each — est ≥ true (structural:
    CMS never undercounts) and est ≤ true + ⌈ε·N⌉ (the ε=0.001
    width bound). The sketch BUILD is one distributed JVM aggregate
    over the token stream; the 10-item probe is a driver-side read
    of a few-KB payload. The oracle replays the exact counts and
    expects TRUE twice — a sketch regression flips the driver row
    red even though the estimate itself is engine-specific."""
    import math

    from zappy_spark.operators.sketches import cms_build, cms_frequencies
    from zappy_spark.operators.text import tokens_ws

    ex = t(spark, d, "documents").select(
        F.explode(tokens_ws(F.col("text"))).alias("tok")
    )
    top = (
        ex.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(10)
        .collect()
    )
    total = ex.count()
    est = cms_frequencies(
        spark, cms_build(ex, "tok", eps=0.001, seed=42), [r["tok"] for r in top]
    )
    bound = math.ceil(0.001 * total)
    rows = [
        (
            r["tok"],
            r["n"],
            bool(est[r["tok"]] >= r["n"]),
            bool(est[r["tok"]] <= r["n"] + bound),
        )
        for r in top
    ]
    return spark.createDataFrame(
        rows, ["tok", "n", "never_under", "within_eps"]
    )


def d36(spark: SparkSession, d: str) -> DataFrame:
    """Source-pair contamination matrix (round 5c): for every
    ordered source pair (a, b), the fraction of a's distinct
    3-grams also present in b — corpus forensics for "which feeds
    are re-hosting which" before mixing weights are chosen
    (d10/d24's benchmark decontamination generalized corpus×corpus).
    Shape: distinct (source, gram) FIRST (one hash agg — the t13
    lesson: dedup before the join, never after), then one gram-key
    equi-join producing source-pair hits; output is bounded at
    |sources|² rows no matter the corpus size. Top-20 off-diagonal
    pairs by round-6 overlap (round-then-sort, id tie-breaks)."""
    docs = t(spark, d, "documents")
    from zappy_spark.operators.dedup import word_shingles

    sg = (
        docs.select(
            "source", F.explode(word_shingles(F.col("text"), 3)).alias("g")
        )
        .distinct()
    )
    totals = sg.groupBy("source").agg(F.count("*").alias("n_grams"))
    a = sg.select(F.col("source").alias("src_a"), "g")
    b = sg.select(F.col("source").alias("src_b"), "g")
    hits = (
        a.join(b, "g")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        hits.join(
            F.broadcast(totals.withColumnRenamed("source", "src_a")), "src_a"
        )
        .select(
            "src_a",
            "src_b",
            "shared",
            F.round(F.col("shared") / F.col("n_grams"), 6).alias("overlap"),
        )
        .orderBy(F.desc("overlap"), "src_a", "src_b")
        .limit(20)
    )


def m02(spark: SparkSession, d: str) -> DataFrame:
    """Multimodal feature extraction end-to-end as a driver row
    (round 5; operators/multimodal.py::extract_features): document
    bytes stand in for media payloads (binary column contract), and
    the REAL Arrow `mapInPandas` plumbing — declared output schema,
    bounded pandas batches, payloads never on the driver — runs the
    deterministic byte-histogram stand-in kernel. The float32
    feature is then UN-normalized back to exact integer bucket
    counts (round(f·n_bytes): f32 relative error ~6e-8 × doc bytes
    ≪ 0.5, so recovery is exact), which the oracle recomputes
    byte-by-byte in SQL — the first value-hash check through the
    multimodal Python path, immune to float-quantization noise.
    Swapping the stub for a real codec changes the kernel, not one
    line of this plumbing."""
    from zappy_spark.operators import multimodal

    media = t(spark, d, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("doc").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = multimodal.extract_features(media, dim=8)
    cols = [
        F.round(
            F.element_at("feature", i + 1).cast("double")
            * F.col("n_bytes")
        )
        .cast("bigint")
        .alias(f"c{i}")
        for i in range(8)
    ]
    return (
        feats.select("media_id", "n_bytes", *cols)
        .orderBy("media_id")
        .limit(100)
    )


def d25(spark: SparkSession, d: str) -> DataFrame:
    """Dataset drift report (round 4c;
    operators/diagnostics.py::psi_report): Population Stability
    Index terms between two dataset halves (even/odd orderkey) over
    10 fixed price buckets — the drift alarm a training pipeline
    runs between corpus versions before retraining. Per-side
    distributions are one ≤10-key aggregate each; the join of two
    10-row frames is noise. Fixed literal edges keep the report
    engine-replayable (the oracle) and comparable across runs."""
    from zappy_spark.operators.diagnostics import psi_report

    li = t(spark, d, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 != 0)
    return psi_report(ref, cur, "l_extendedprice", 0.0, 10000.0, 10)


def d26(spark: SparkSession, d: str) -> DataFrame:
    """Leakage-free train/val/test split (round 5;
    operators/sampling.py::leakage_free_split): the split hash keys
    on the token-set FINGERPRINT (d18's normalized-exact dedup
    tier), so every word-order/whitespace variant of a document
    lands in the same split — id-hash splitting would strand
    ~2·f·(1−f) of each duplicate pair across the train/eval
    boundary and inflate eval scores. Ledger = per split: docs,
    distinct content groups, and docs-over-groups (the duplicates
    the grouping kept together). Scan-side CASE, one aggregate;
    append-stable at any corpus size."""
    from zappy_spark.operators.sampling import leakage_free_split

    docs = leakage_free_split(
        t(spark, d, "documents"),
        "text",
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return (
        docs.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_groups"),
        )
        .orderBy("split")
    )


def d27(spark: SparkSession, d: str) -> DataFrame:
    """Context-window shelf packing, SQL-replayable tier (round 5):
    docs sorted size-desc within each source, cumulative token count
    opens a new shelf every `budget` tokens (shelf id =
    floor(preceding-cumsum / budget)) — the deterministic
    one-window-pass sibling of the FFD ``pack_sequences`` operator
    (pipeline.py, property-tested): same ledger shape, weaker bound,
    but exactly replayable by any engine, which makes it the
    auditable packing contract. One window + one aggregate, both
    partitioned by source — no global sort; at 100 TB the source
    partitioning IS the parallelism (packing across sources never
    needs cross-partition state)."""
    budget = 64
    docs = t(spark, d, "documents").select(
        "source",
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tok"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shelf = F.floor(
        (F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(budget)
    ).cast("int")
    return (
        docs.withColumn("shelf", shelf)
        .groupBy("source", "shelf")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("tok"),
        )
        .orderBy("source", "shelf")
        .limit(100)
    )


def d29(spark: SparkSession, d: str) -> DataFrame:
    """Temperature-scaled mixture resampling (round 5;
    operators/sampling.py::temperature_sample): per-source keep rate
    min(1, 20/sqrt(|source|)) — expected kept count ∝ |source|^0.5,
    the unigram-temperature flattening (T5/PaLM style) that tames
    head domains without starving the tail. Rates DERIVE from corpus
    counts; alpha = 0.5 keeps the whole decision in IEEE-exact
    sqrt/divide territory (no cross-group sum, no rounding boundary
    class). Ledger = per source: total, kept, and the exact integer
    sum of kept ids — a membership witness with zero float risk.
    Scale shape: tiny count aggregate broadcast back, scan-side
    hash-threshold filter, one bounded ledger aggregate."""
    from zappy_spark.operators.sampling import temperature_sample

    docs = t(spark, d, "documents")
    kept = temperature_sample(docs, "doc_id", "source", scale=20.0)
    tot = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    led = kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
    )
    return (
        tot.join(led, "source", "left")
        .select(
            "source",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("id_sum", F.lit(0)).alias("id_sum"),
        )
        .orderBy("source")
    )


def d30(spark: SparkSession, d: str) -> DataFrame:
    """Per-domain quality cap (round 5;
    operators/sampling.py::per_group_cap): no source contributes
    more than 25 documents, and the 25 kept are the LONGEST
    (n_chars as the quality proxy; doc_id ascending as the total-
    order tie-break) — the per-host quota of crawl curation, where
    uncapped mega-hosts would dominate any mixture. One window per
    source; output bounded by k·|sources| at any corpus size."""
    from zappy_spark.operators.sampling import per_group_cap

    return (
        per_group_cap(
            t(spark, d, "documents"), "source", "n_chars", "doc_id", 25
        )
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")
    )


def r78(spark: SparkSession, d: str) -> DataFrame:
    """SCD-2 history apply (round 4c;
    operators/pipeline.py::scd2_apply): orders as the dimension
    (valid_from = order date, open-ended), a change batch touching
    every 7th key 30 days later — changed keys' current versions are
    CLOSED and the new versions appended; the ledger counts versions
    and value by (status, currency of the version). The audit-trail
    sibling of r47's SCD-1 upsert; cost scales with
    |current|+|changes|, never |history| (no window over history).
    """
    from zappy_spark.operators.pipeline import scd2_apply

    od = t(spark, d, "orders")
    hist = od.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("p"),
        F.to_date("o_orderdate").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    chg = od.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("X").alias("st"),
        # exact decimal ×1.1: ROUND(double*1.1, 2) diverges from
        # DuckDB at half-cent boundaries (sf0.01 keys 546, 14770 —
        # round-6 driver catch); decimal×decimal ties are exact and
        # both engines round them away from zero
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(3,2)"),
            2,
        )
        .cast("double")
        .alias("p"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("ts"),
    )
    out = scd2_apply(hist, chg, ["k"], "ts")
    return (
        out.groupBy(
            "st", F.col("valid_to").isNull().alias("is_current")
        )
        .agg(
            F.count("*").alias("n"),
            # exact decimal sum: p is 2dp by construction, double SUM
            # would be partial-agg-order sensitive at ROUND boundaries
            F.sum(F.col("p").cast("decimal(18,2)")).cast("double").alias("tot"),
        )
        .orderBy("st", "is_current")
    )


def r79(spark: SparkSession, d: str) -> DataFrame:
    """Point-in-time dimension lookup (round 4c): reconstruct the
    r78 SCD-2 history, then answer "what did every order's dimension
    row look like AS OF 1995-06-01" — the read side that justifies
    keeping history: filter valid_from <= X < coalesce(valid_to,
    open) and the history collapses back to a one-row-per-key
    snapshot, joinable like any dimension. The filter is scan-side;
    at 100 TB a valid_from-partitioned layout makes it partition
    pruning."""
    from zappy_spark.operators.pipeline import scd2_apply

    od = t(spark, d, "orders")
    hist = od.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("p"),
        F.to_date("o_orderdate").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    chg = od.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("X").alias("st"),
        # same exact-cents fabrication as r78 (shared ×1.1 batch)
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(3,2)"),
            2,
        )
        .cast("double")
        .alias("p"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("ts"),
    )
    full = scd2_apply(hist, chg, ["k"], "ts")
    asof = F.lit("1995-06-01").cast("date")
    snap = full.filter(
        (F.col("valid_from") <= asof)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > asof))
    )
    return (
        snap.groupBy("st")
        .agg(
            F.count("*").alias("n"),
            # p is exactly 2dp (o_totalprice, or round(x*1.1,2)); decimal
            # SUM is exact → order-independent (audit_rounding.py found
            # the sf0.01 sum exactly on a half-cent boundary).
            F.sum(F.col("p").cast("decimal(18,2)")).cast("double").alias("tot"),
        )
        .orderBy("st")
    )


def t21(spark: SparkSession, d: str) -> DataFrame:
    """Robust outlier report via MAD (round 4c): per-source median
    absolute deviation of document length, flagging docs beyond
    1.5·1.4826·MAD — the length-anomaly gate that survives heavy
    tails where mean/stddev z-scores saturate (one boilerplate blob
    shifts a stddev, not a median). Two exact-median aggregates plus
    one counting aggregate, all hashed on source; the per-source
    medians are a |sources|-row broadcast back onto the scan.
    Flags 36/500 docs at sf0.01 — a real gate, not vacuous."""
    docs = t(spark, d, "documents")
    med = docs.groupBy("source").agg(
        F.median("n_chars").alias("_med")
    )
    dev = docs.join(F.broadcast(med), "source").select(
        "source", F.abs(F.col("n_chars") - F.col("_med")).alias("_ad")
    )
    mad = dev.groupBy("source").agg(F.median("_ad").alias("_mad"))
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.count(
                F.when(
                    F.col("_ad") > 1.5 * 1.4826 * F.col("_mad"), 1
                )
            ).alias("outliers"),
            F.round(F.max("_mad"), 1).alias("mad"),
        )
        .orderBy("source")
    )


def t22(spark: SparkSession, d: str) -> DataFrame:
    """Per-language winsorization of document length (round 5;
    operators/diagnostics.py::winsorize): clamp n_chars to the
    per-lang [p05, p95] DISCRETE percentiles — outlier-taming that
    keeps rows at the fence instead of dropping them (the clamp
    sibling of t21's MAD gate). Discrete edges use r70's
    integer-count spelling ("smallest value whose cumulative count
    reaches p·n" over the per-(lang, value) COUNT aggregate), so
    there is no interpolation arithmetic anywhere; the p·n compare
    is one IEEE multiply of identical doubles on both engines.
    Ledger = per lang: edges, clamped-row counts, and the exact
    int64 sum of winsorized lengths — zero float columns."""
    from zappy_spark.operators.diagnostics import winsorize

    docs = t(spark, d, "documents").select("doc_id", "lang", "n_chars")
    wz = winsorize(docs, "n_chars", "lang", 0.05, 0.95)
    return (
        wz.groupBy("lang")
        .agg(
            F.min("_lo").alias("lo"),
            F.min("_hi").alias("hi"),
            F.sum(
                (F.col("n_chars") < F.col("_lo")).cast("bigint")
            ).alias("n_below"),
            F.sum(
                (F.col("n_chars") > F.col("_hi")).cast("bigint")
            ).alias("n_above"),
            F.sum("n_chars_wins").alias("sum_wins"),
        )
        .orderBy("lang")
    )


def t18(spark: SparkSession, d: str) -> DataFrame:
    """BM25 retrieval scoring (round 4;
    operators/text.py::bm25_scores) for a literal query-term set —
    the mine-documents-for-a-task scorer. Tokens are filtered to the
    query terms before the tf shuffle; df and corpus stats broadcast.
    Ordering is on the 4dp-rounded score with doc_id tiebreak, so
    cross-engine top-50 is deterministic."""
    return (
        text.bm25_scores(
            t(spark, d, "documents"),
            "text",
            "doc_id",
            terms=("data", "table", "scan"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(50)
    )


def t19(spark: SparkSession, d: str) -> DataFrame:
    """Gopher-style quality rules (round 4;
    operators/text.py::gopher_quality): word-count bounds, mean-word-
    length band, alpha-word fraction, distinct-stopword floor, and
    the combined keep flag — all scan-side array lambdas, zero
    shuffles."""
    return (
        text.gopher_quality(t(spark, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
        .limit(100)
    )


def v01(spark: SparkSession, d: str) -> DataFrame:
    """IVF-style ANN probe: exact top-k restricted to the query's
    coarse partition (label); on a partitioned table this is file
    pruning, scanning 1/nlist of the data."""
    emb = t(spark, d, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"), F.col("label").alias("ql")
        )
    )
    return (
        emb.crossJoin(q)
        .filter((F.col("vec_id") != 0) & (F.col("label") == F.col("ql")))
        .select("vec_id", F.round(cosine("embedding", "qv"), 4).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


def v02(spark: SparkSession, d: str) -> DataFrame:
    """Random-hyperplane LSH ANN. Oracle-bearing since round 4: the
    seeded planes are deterministic literals (rng(42)), and the
    multi-probe set {sig : hamming(sig, qsig) <= radius} is exactly
    the predicate the DuckDB twin evaluates per row — so signature,
    probe and exact re-rank all replay in SQL with the same plane
    literals. Recall vs exact top-k stays property-tested."""
    emb = t(spark, d, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = similarity.rp_lsh_topk(
        emb.filter(F.col("vec_id") != 0),
        "embedding",
        "vec_id",
        qvec,
        k=10,
        num_planes=4,
        probe_radius=2,
    )
    return out.select("vec_id", F.round("sim", 4).alias("sim"))


def v03(spark: SparkSession, d: str) -> DataFrame:
    """L2 normalization of embeddings (array-lambda, scan-side)."""
    from zappy_spark.operators.similarity import l2_normalize

    from zappy_spark.queries._util import sq_norm

    emb = t(spark, d, "embeddings")
    nv = l2_normalize("embedding")
    return (
        emb.select(
            "vec_id",
            F.round(F.element_at(nv, 1), 6).alias("n1"),
            F.round(F.element_at(nv, 2), 6).alias("n2"),
            F.round(F.sqrt(sq_norm(nv)), 6).alias("nrm"),
        )
        .orderBy("vec_id")
        .limit(100)
    )


def v04(spark: SparkSession, d: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings."""
    from zappy_spark.operators.similarity import quantize_int8

    emb = t(spark, d, "embeddings")
    qv = quantize_int8("embedding")
    return (
        emb.select(
            "vec_id",
            F.element_at(qv, 1).alias("q1"),
            F.element_at(qv, 2).alias("q2"),
            F.element_at(qv, 3).alias("q3"),
        )
        .orderBy("vec_id")
        .limit(100)
    )


def v05(spark: SparkSession, d: str) -> DataFrame:
    """Distributed covariance (the PCA moments pass): selected matrix
    entries, checked against DuckDB covar_samp on the same elements.
    The Spark job is operators/linalg.moments — partition-local
    numpy partials over Arrow batches, driver combine (two numbers
    per (i,j), no shuffle)."""
    from zappy_spark.operators.linalg import moments

    emb = t(spark, d, "embeddings")
    _, _, cov = moments(emb.select(F.col("embedding")), "embedding")
    return spark.createDataFrame(
        [(
            round(float(cov[0, 0]), 6),
            round(float(cov[0, 1]), 6),
            round(float(cov[1, 1]), 6),
            round(float(cov[2, 5]), 6),
        )],
        "c11 double, c12 double, c22 double, c36 double",
    )


def v06(spark: SparkSession, d: str) -> DataFrame:
    """PCA scores, oracle-bearing since round 4 (VERDICT r3 next-5):
    runs the full distributed pipeline — Arrow moments partials →
    driver ``eigh`` with the max-|coord|-positive sign convention →
    JVM literal projection — on the leading 2 embedding dims, a
    width whose eigensolution has a closed form DuckDB can replay
    (2×2 symmetric: λ = tr/2 ± √((Δ/2)² + c₁₂²), v ∝ (c₁₂, λ−c₁₁)).
    Full-width PCA is the same code path, numpy-parity-tested in
    test_operators; rounding at 3 decimals absorbs the ~1e-12
    moments-vs-covar_samp accumulation difference."""
    from zappy_spark.operators.linalg import pca_transform

    emb = t(spark, d, "embeddings").select(
        "vec_id", F.slice("embedding", 1, 2).alias("e2")
    )
    out = pca_transform(emb, "e2", "vec_id", k=2)
    return (
        out.select(
            "vec_id",
            (F.round("pc0", 3) + F.lit(0.0)).alias("p0"),
            (F.round("pc1", 3) + F.lit(0.0)).alias("p1"),
        )
        .orderBy("vec_id")
        .limit(100)
    )


def v07(spark: SparkSession, d: str) -> DataFrame:
    """Mergeable HLL distinct-user rollup, oracle-checkable form
    (round 5, VERDICT r4 next-5): the estimate itself is
    engine-specific, but the claim it makes — "within ±3·RSE of the
    true weekly distinct" — is not. The entry outputs the exact
    weekly distinct plus a boolean attesting the merged-sketch
    estimate sits inside its documented envelope, so DuckDB can
    verify both columns (exact twin + constant TRUE) and a sketch
    regression flips a driver row instead of hiding behind
    rows-only. Production keeps the build-once/rollup-forever shape:
    one fact pass → per-day sketches, weekly rollup merges binaries
    only; the exact twin here is the verification harness, not the
    production path. Merge identity stays pinned in
    tests/test_sketches.py."""
    import math

    from zappy_spark.operators.sketches import DEFAULT_LGK, hll_build, hll_rollup

    rse = 1.04 / math.sqrt(2**DEFAULT_LGK)
    ev = t(spark, d, "events").withColumn("day", F.to_date("ts"))
    daily = hll_build(ev, ["day"], "user_id")
    weekly = hll_rollup(
        daily.withColumn("week", F.date_trunc("week", "day").cast("date")),
        ["week"],
    )
    exact = (
        ev.withColumn("week", F.date_trunc("week", "day").cast("date"))
        .groupBy("week")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return (
        weekly.join(exact, "week")
        .select(
            "week",
            "exact_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= F.greatest(
                    F.lit(3 * rse) * F.col("exact_distinct"), F.lit(1.0)
                )
            ).alias("within_envelope"),
        )
        .orderBy("week")
    )


def d09(spark: SparkSession, d: str) -> DataFrame:
    """Quality-aware dedup (operators/dedup.py::dedup_keep_best):
    within each duplicate group keep the longest member (tie → lowest
    doc_id). Grouping key is the 40-char prefix (boilerplate-prefix
    canonicalization — this testdata has no full-content dups, and a
    vacuous 0-row query would verify nothing); the oracle replays the
    identical argmax as a window."""
    docs = t(spark, d, "documents").withColumn(
        "pfx", F.substring("text", 1, 40)
    )
    return (
        dedup.dedup_keep_best(docs, "pfx", "doc_id", "n_chars")
        .filter(F.col("n") > 1)
        .select("h", "n", F.col("keep").alias("keep_id"))
        .orderBy("h")
        .limit(100)
    )


def t10(spark: SparkSession, d: str) -> DataFrame:
    """Text normalization (operators/text.py::normalize_text) —
    output is hashed so the oracle verifies the full normalized
    string, not a prefix."""
    docs = t(spark, d, "documents")
    nt = text.normalize_text(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.md5(nt).alias("nh"),
            # bigint: Spark length()->INT vs DuckDB length()->BIGINT
            F.length(nt).cast("bigint").alias("ln"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


def v08(spark: SparkSession, d: str) -> DataFrame:
    """Batch kNN join (operators/similarity.py::knn_join): top-3
    cosine neighbors for each of 5 query vectors in one candidate
    scan — the realistic retrieval shape vs l02's single query."""
    emb = t(spark, d, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = similarity.knn_join(
        emb.filter(F.col("vec_id") >= 5),
        queries,
        vec_col="embedding",
        id_col="vec_id",
        query_vec_col="qv",
        query_id_col="qid",
        k=3,
    )
    return out.select("qid", "vec_id", "sim", "rn").orderBy("qid", "rn")


def d10(spark: SparkSession, d: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py::decontaminate):
    docs sharing any word 3-gram with the benchmark subset
    (doc_id % 100 == 7) are dropped; survivors returned. At sf0.01
    this keeps 300/495 — a real split, not a vacuous pass."""
    docs = t(spark, d, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 7)
    corpus = docs.filter(F.col("doc_id") % 100 != 7)
    kept = dedup.decontaminate(corpus, bench, "text", "doc_id", k=3)
    return kept.select("doc_id").orderBy("doc_id").limit(100)


def d11(spark: SparkSession, d: str) -> DataFrame:
    """Domain-mixture sampling (operators/sampling.py::mixture_sample):
    per-lang rates in one scan-side CASE filter; per-lang counts
    verify each group got its own rate."""
    from zappy_spark.operators.sampling import mixture_sample

    out = mixture_sample(
        t(spark, d, "documents"),
        "doc_id",
        "lang",
        {"en": 0.6, "de": 0.3},
        default=0.1,
    )
    return (
        out.groupBy("lang")
        .agg(F.count("*").alias("c"), F.min("doc_id").alias("mn"))
        .orderBy("lang")
    )


def t11(spark: SparkSession, d: str) -> DataFrame:
    """Gopher-style repetition signals
    (operators/text.py::repetition_features) — dup-word, dup-3gram,
    and top-word fractions, all scan-side array lambdas."""
    out = text.repetition_features(t(spark, d, "documents"), "text")
    return (
        out.select(
            "doc_id",
            "rep_dup_word_frac",
            "rep_dup_3gram_frac",
            "rep_top_word_frac",
        )
        .orderBy("doc_id")
        .limit(100)
    )


def t12(spark: SparkSession, d: str) -> DataFrame:
    """Domain-distribution audit (operators/text.py::
    domain_distribution) over planted URLs (testdata has no organic
    URLs): two URLs per doc, domains keyed by doc_id mod 7 / mod 3,
    so n_docs < n_mentions exactly when both URLs share a domain —
    the dedup-before-explode path is what's verified."""
    docs = t(spark, d, "documents")
    planted = F.concat(
        F.substring("text", 1, 20),
        F.lit(" https://s"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" and https://s"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".example.org/q ok"),
    )
    out = text.domain_distribution(
        docs.select("doc_id", planted.alias("ptext")), "ptext"
    )
    return out.orderBy("domain")


def d12(spark: SparkSession, d: str) -> DataFrame:
    """Quantile-bucket curriculum binning (operators/sampling.py::
    quantile_buckets): quartiles of lineitem price; per-bucket count
    and range verify the exact edge computation AND the scan-side
    assignment against DuckDB's quantile_cont."""
    from zappy_spark.operators.sampling import quantile_buckets

    out = quantile_buckets(t(spark, d, "lineitem"), "l_extendedprice", 4)
    return (
        out.groupBy("bucket")
        .agg(
            F.count("*").alias("c"),
            F.round(F.min("l_extendedprice"), 2).alias("mn"),
            F.round(F.max("l_extendedprice"), 2).alias("mx"),
        )
        .orderBy("bucket")
    )


def t13(spark: SparkSession, d: str) -> DataFrame:
    """C4-style boilerplate scoring (operators/text.py::
    boilerplate_fraction): fraction of each doc's distinct 3-grams
    shared by ≥3 documents. The word-salad corpus shares grams
    heavily, so the score distribution is non-degenerate."""
    out = text.boilerplate_fraction(
        t(spark, d, "documents"), "text", "doc_id", k=3, min_docs=3
    )
    return (
        out.select("doc_id", "n_grams", "n_freq", "boilerplate_frac")
        .orderBy("doc_id")
        .limit(100)
    )


def d13(spark: SparkSession, d: str) -> DataFrame:
    """Near-containment dedup (operators/dedup.py::containment_pairs):
    LSH candidates verified by |A∩B|/min(|A|,|B|) — catches embedded
    copies that Jaccard's union denominator dilutes. Same portable
    md5 hash family as d06, so DuckDB replays the whole pipeline.
    Instrument bounded to ``doc_id < 5000`` (a no-op at every
    testdata SF — see d14's docstring for the measured rationale)."""
    pairs = dedup.containment_pairs(
        t(spark, d, "documents").filter(F.col("doc_id") < 5000),
        "text",
        "doc_id",
        threshold=0.5,
    )
    return pairs.select(
        "i", "j", F.round("cont", 6).alias("cont")
    ).orderBy("i", "j")


def t14(spark: SparkSession, d: str) -> DataFrame:
    """Sequence-length histogram: fixed-width (20-token) bins of
    per-doc whitespace token counts — the corpus-audit view packing
    and chunking decisions are made from. One scan, one tiny agg."""
    docs = t(spark, d, "documents")
    n = text.token_count_ws("text").cast("bigint")
    return (
        docs.groupBy((F.floor(n / 20) * 20).alias("bin"))
        .agg(F.count("*").alias("c"))
        .orderBy("bin")
    )


def v10(spark: SparkSession, d: str) -> DataFrame:
    """Per-dimension z-score standardization (operators/linalg.py::
    standardize): one narrow posexplode→(pos) aggregate (plan width
    constant in dim), stats shipped back as array literals into a
    scan-side zip_with transform; dims 1-2 verified against DuckDB's
    avg/stddev_samp."""
    from zappy_spark.operators.linalg import standardize

    emb = t(spark, d, "embeddings")
    out = standardize(emb, "embedding", dim=64)
    return (
        out.select(
            "vec_id",
            F.round(F.element_at("std_vec", 1), 6).alias("s1"),
            F.round(F.element_at("std_vec", 2), 6).alias("s2"),
            F.round(F.element_at("std_vec", 64), 6).alias("s64"),
        )
        .orderBy("vec_id")
        .limit(100)
    )


def v09(spark: SparkSession, d: str) -> DataFrame:
    """IVF coarse-quantizer training (operators/similarity.py::
    kmeans_fit + kmeans_assign): distributed Lloyd's k-means, then
    per-cluster sizes. Oracle-checked via the fixed-iteration trick
    (round 5, the d19/v16 pattern): with deterministic md5-ranked
    seeds and ``tol=0`` the fit runs exactly 3 Lloyd rounds, which a
    DuckDB recursive CTE replays verbatim — scalar (iter, cluster,
    pos, val) centroid state, argmin assignment with the same
    (distance, cluster) tie-break as kmeans_assign's array_position.
    Output is integer cluster sizes, robust to the ulp-level
    summation-order wobble in the centroid means. Blob-recovery and
    index-recall properties remain pinned in test_operators."""
    emb = t(spark, d, "embeddings")
    cents = similarity.kmeans_fit(
        emb, "embedding", "vec_id", k=4, max_iter=3, tol=0.0
    )
    return (
        similarity.kmeans_assign(emb, "embedding", cents)
        .groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .orderBy("cluster")
    )


def v11(spark: SparkSession, d: str) -> DataFrame:
    """Cluster cohesion per label (round 4;
    operators/similarity.py::centroid_cohesion): mean member↔
    centroid cosine via one posexplode + narrow (group,pos) aggs —
    plan width constant in dim."""
    return similarity.centroid_cohesion(
        t(spark, d, "embeddings"), "embedding", "vec_id", "label"
    ).orderBy("label")


def v12(spark: SparkSession, d: str) -> DataFrame:
    """kNN majority-vote label prediction (round 4;
    operators/similarity.py::knn_classify): broadcast query batch ×
    one candidate scan, deterministic similarity and vote
    tie-breaks; joined back to the true label for an accuracy-style
    readout."""
    emb = t(spark, d, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pred = similarity.knn_classify(
        emb, "embedding", "vec_id", "label", q, "qv", "qid", k=5
    )
    truth = emb.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("true_label")
    )
    return (
        pred.join(truth, "qid")
        .select("qid", "true_label", "predicted", "votes")
        .orderBy("qid")
    )


def d20(spark: SparkSession, d: str) -> DataFrame:
    """Incremental-ingest dedup (round 4b;
    operators/dedup.py::incremental_new_docs): the new snapshot
    (doc_id % 3 == 0) anti-joined on the token-set fingerprint
    against the accumulated corpus; per-source ingest ledger. The
    16-byte-key anti join hash-partitions both sides — the old
    corpus is the big side, so nothing broadcasts by design."""
    docs = t(spark, d, "documents")
    new = docs.filter(F.col("doc_id") % 3 == 0)
    old = docs.filter(F.col("doc_id") % 3 != 0)
    kept = dedup.incremental_new_docs(
        new, old, "text", "doc_id", tier="fingerprint"
    )
    n_new = new.groupBy("source").agg(F.count("*").alias("n_new"))
    n_kept = kept.groupBy("source").agg(F.count("*").alias("n_kept"))
    return (
        n_new.join(n_kept, "source", "left")
        .select(
            "source",
            "n_new",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


def t20(spark: SparkSession, d: str) -> DataFrame:
    """Unigram-LM perplexity per document (round 4b;
    operators/text.py::unigram_perplexity): the cheap quality /
    importance signal. Three count-only shuffles; ln-sum runs over
    per-doc distinct-token counts so term order is a rounded-4dp
    non-issue."""
    return (
        text.unigram_perplexity(t(spark, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
        .limit(100)
    )


def v14(spark: SparkSession, d: str) -> DataFrame:
    """PQ asymmetric-distance scoring (round 4b;
    operators/similarity.py::adc_scores): the query's distance to
    every codebook centroid ships as an m×k literal LUT; scoring a
    vector is m lookups over its PQ codes — the scan that reads m
    bytes per vector instead of dim floats. Top-20 nearest by
    approximate distance, deterministic 6dp + id tiebreak."""
    import numpy as np

    qv = np.round(
        np.random.default_rng(11).normal(0.0, 0.12, 64), 4
    )
    return (
        similarity.adc_scores(
            t(spark, d, "embeddings"),
            "embedding",
            "vec_id",
            similarity.pq_codebook(),
            qv,
        )
        .orderBy("adist", "vec_id")
        .limit(20)
    )


def v13(spark: SparkSession, d: str) -> DataFrame:
    """Product-quantization codes (round 4;
    operators/similarity.py::pq_codes): each 64-dim vector
    compressed to 4 sub-codes via nearest literal centroid (squared
    L2, ties to smaller index) — the ANN compression tier between
    int8 quantization (v04) and the IVF index (v09). Scan-side
    codegen, zero shuffles; the oracle replays the identical
    left-folded distance arithmetic so argmin is bit-exact."""
    return (
        similarity.pq_codes(
            t(spark, d, "embeddings"),
            "embedding",
            "vec_id",
            similarity.pq_codebook(),
        )
        .orderBy("vec_id")
        .limit(200)
    )


def v16(spark: SparkSession, d: str) -> DataFrame:
    """PageRank, oracle-checked (round 4c;
    operators/graph.py::pagerank exact_iters mode): the
    supplier↔customer trade graph (who traded with whom, symmetrized
    so no node dangles), 10 fixed power-iteration rounds — the
    second oracle-checked ITERATIVE algorithm after d19's CC
    closure; DuckDB replays it as a recursive CTE with GROUP BY in
    the recursive term. Customers offset by 1e6 to disambiguate key
    spaces. Top-50 by rounded rank (round-then-sort so the
    cross-engine cut is deterministic)."""
    from zappy_spark.operators.graph import pagerank

    li = t(spark, d, "lineitem").select("l_orderkey", "l_suppkey")
    od = t(spark, d, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("s"),
            (F.col("o_custkey") + 1_000_000).alias("c"),
        )
        .distinct()
    )
    sym = e0.select(F.col("s").alias("i"), F.col("c").alias("j")).unionAll(
        e0.select(F.col("c").alias("i"), F.col("s").alias("j"))
    )
    pr = pagerank(sym, exact_iters=10)
    return (
        pr.select("node", F.round("rank", 6).alias("r"))
        .orderBy(F.desc("r"), "node")
        .limit(50)
    )


def v17(spark: SparkSession, d: str) -> DataFrame:
    """EXACT distinct counting via segmented bitmap aggregates
    (round 4c; Spark 4 bitmap_construct_agg): each key sets one bit
    in its 32768-bit segment (bitmap_bucket_number pairs with
    bitmap_bit_position — the segment split is mandatory for
    correctness on keys crossing segment bounds), per-segment
    bitmaps OR-merge in the aggregate, counts sum across segments.
    The mergeable-exact-distinct technique warehouse engines use for
    incremental rollups: unlike countDistinct, partial results are
    small fixed-size bitmaps that keep merging (rollup-forever,
    like the HLL path, but exact); unlike HLL there is no error.
    Oracle: plain COUNT(DISTINCT) equality."""
    li = t(spark, d, "lineitem")
    per_seg = li.groupBy(
        "l_returnflag",
        F.bitmap_bucket_number("l_partkey").alias("_bk"),
    ).agg(
        F.bitmap_count(
            F.bitmap_construct_agg(F.bitmap_bit_position("l_partkey"))
        ).alias("_c")
    )
    return (
        per_seg.groupBy("l_returnflag")
        .agg(F.sum("_c").alias("du"))
        .orderBy("l_returnflag")
    )


def v15(spark: SparkSession, d: str) -> DataFrame:
    """Per-dimension rank (quantile) normalization (round 4b): each
    embedding component replaced by its corpus-wide percent_rank
    within that dimension — the distribution-free normalizer for
    heavy-tailed feature dims (rank transform / quantile
    uniformization). percent_rank orders by VALUE only, so ties
    share a rank and the output is a pure function of the data —
    engine-portable with no tiebreak hazard.

    Scale shape: posexplode once, then ONE shuffle partitioned by
    dimension index — every dimension ranks in parallel, window
    length = corpus size per dim, never corpus×dim. Emitted as
    (vec_id, pos, r) rows; the array re-assembly (collect_list over
    vec_id) is the optional second shuffle a consumer pays only if
    it needs arrays back."""
    emb = t(spark, d, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("pos", "x"),
    ).filter(F.col("pos") < 4)
    w = Window.partitionBy("pos").orderBy("x")
    return (
        ex.select(
            "vec_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.round(F.percent_rank().over(w), 6).alias("r"),
        )
        .orderBy("vec_id", "pos")
        .limit(200)
    )


def d37(spark: SparkSession, d: str) -> DataFrame:
    """Prefix-filtered set-similarity self-join (round 5d;
    operators/dedup.py::prefix_filter_pairs — the AllPairs/PPJoin
    algorithm): 5-gram-shingle-set Jaccard >= 0.5 pairs found via
    the rarest-elements-first prefix join, never all-pairs. The
    third near-dup tier beside MinHash-LSH (d06, probabilistic) and
    containment (d13, asymmetric): exact Jaccard output with an
    algebraic completeness guarantee per the prefix lemma. k=5
    because this corpus's 40-word vocabulary keeps the 3-gram space
    dense (avg shingle df ~68 at 50k docs -> ~1e8 candidate join
    rows); at k=5 the measured prefix-filter selectivity is 99.95%
    (250,717 candidates -> 250,600 true pairs at the 10x fixture).
    Instrument bounded to ``doc_id < 5000`` (a no-op at every
    testdata SF): the replica-dense 100x fixture's ~1e8 true pairs
    made the unbounded verify too heavy for one box on BOTH engines
    — the d06/d13/d14 bound-the-instrument doctrine (round 6)."""
    # max_token_df passed explicitly (the oracle hardcodes the same
    # 100k cap); the operator default is None = exact prefix filter
    pairs = dedup.prefix_filter_pairs(
        t(spark, d, "documents").filter(F.col("doc_id") < 5000),
        "text",
        "doc_id",
        theta=0.5,
        shingle_k=5,
        max_token_df=100_000,
    )
    return pairs.orderBy(F.desc("jac"), "i", "j").limit(50)


def t26(spark: SparkSession, d: str) -> DataFrame:
    """Weight-of-evidence / information-value feature audit (round
    5d): the credit-scoring-style predictive-power screen, here
    binning doc length against the is-English label. Fixed-width
    bins (no global sort), +0.5 Laplace smoothing so empty cells
    stay finite; counts are integers -> WOE/IV deterministic.

    Scale shape: one scan -> <=6-group hash agg; totals come back
    as a broadcast 1-row aggregate (the r19 pattern)."""
    docs = t(spark, d, "documents")
    binc = F.least(F.floor(F.col("n_chars") / 100), F.lit(5)).cast("int")
    good = (F.col("lang") == "en").cast("int")
    per = docs.select(binc.alias("bin"), good.alias("g")).groupBy(
        "bin"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("g").alias("n_good"),
        (F.count("*") - F.sum("g")).alias("n_bad"),
    )
    tot = per.agg(
        F.sum("n_good").cast("double").alias("gt"),
        F.sum("n_bad").cast("double").alias("bt"),
    )
    gr = (F.col("n_good") + 0.5) / (F.col("gt") + 0.5)
    br = (F.col("n_bad") + 0.5) / (F.col("bt") + 0.5)
    woe = F.log(gr / br)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_docs",
            "n_good",
            "n_bad",
            F.round(woe, 6).alias("woe"),
            F.round((gr - br) * woe, 6).alias("iv_contrib"),
        )
        .orderBy("bin")
    )


_IDCG_10 = sum(1.0 / __import__("math").log2(i + 1) for i in range(1, 11))


def v24(spark: SparkSession, d: str) -> DataFrame:
    """Retrieval-quality evaluation harness (round 5d): recall@10,
    MRR@10 and binary-gain NDCG@10 of the matryoshka prefix-8
    cosine ranking (the v18 index tier) against the exact full-dim
    ranking, for the deterministic query panel vec_id % 50 == 7.
    This is the missing half of every ANN entry: not "does the
    index run" but "how good is it" — the numbers an index rollout
    gates on.

    Scale shape: the query panel is broadcast (v08's batch-kNN
    shape), ONE scored pass computes both similarities, both
    rankings are windows partitioned by query, and the metric agg
    is one group per query. IDCG is a Python-constant literal so
    no engine ever sums the log series. Sims are rounded (6dp)
    before ranking with id tie-break — rank-deterministic.

    Round-6 re-spell: the panel is BOUNDED (vec_id < 2000 on top of
    the %50 stripe → ≤40 queries at any SF). The original stripe
    alone grew the panel with the corpus, making the harness
    panel×corpus ≈ quadratic — the 100× sweep watchdog caught it at
    900 s. An eval panel is a fixed instrument by design; now cost
    scales linearly with the corpus like every other broadcast-probe
    entry."""
    emb = t(spark, d, "embeddings")
    q = emb.filter(
        (F.col("vec_id") % 50 == 7) & (F.col("vec_id") < 2000)
    ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "vec_id",
        F.round(cosine("embedding", "qv"), 6).alias("fs"),
        F.round(
            cosine(F.slice("embedding", 1, 8), F.slice("qv", 1, 8)), 6
        ).alias("ps"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("fs"), "vec_id")
    wp = Window.partitionBy("q_id").orderBy(F.desc("ps"), "vec_id")
    ranked = scored.select(
        "q_id",
        F.row_number().over(wf).alias("er"),
        F.row_number().over(wp).alias("ar"),
    )
    rel = F.col("er") <= 10
    ret = F.col("ar") <= 10
    per = ranked.groupBy("q_id").agg(
        F.sum(F.when(rel & ret, 1)).alias("hits"),
        F.min(F.when(rel, F.col("ar"))).alias("first_rel"),
        F.sum(
            F.when(rel & ret, 1.0 / (F.log(F.col("ar") + 1.0) / F.log(F.lit(2.0))))
        ).alias("dcg"),
    )
    return per.select(
        "q_id",
        F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits_at_10"),
        F.round(F.coalesce(F.col("hits"), F.lit(0)) / 10.0, 6).alias(
            "recall_at_10"
        ),
        F.round(
            F.when(F.col("first_rel") <= 10, 1.0 / F.col("first_rel"))
            .otherwise(0.0),
            6,
        ).alias("mrr_at_10"),
        F.round(
            F.coalesce(F.col("dcg"), F.lit(0.0)) / F.lit(_IDCG_10), 6
        ).alias("ndcg_at_10"),
    ).orderBy("q_id")


def t27(spark: SparkSession, d: str) -> DataFrame:
    """Flesch-style readability per document (round 6): the classic
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    reading-ease score, with syllables from the portable
    vowel-group heuristic — count of maximal [aeiou]+ runs, spelled
    as a LENGTH DELTA of two regexp_replace calls (groups→'~' minus
    groups→''), so no engine needs a match-count builtin. Sentences
    count [.!?]+ runs the same way, floored at 1 (the synthetic
    corpus has no terminal punctuation — documented; real corpora
    exercise the same expression). Every per-doc input is an exact
    integer, so the score arithmetic is IEEE-deterministic; no
    aggregation anywhere (per-doc rows, doc_id < 100) — zero
    order-dependence, zero shuffle beyond the final sort."""
    docs = t(spark, d, "documents").filter(F.col("doc_id") < 100)

    def runs(col, pat):
        return F.length(F.regexp_replace(col, pat, "~")) - F.length(
            F.regexp_replace(col, pat, "")
        )

    words = F.size(text.tokens_ws(F.col("text"))).cast("double")
    syl = runs(F.col("text"), "[aeiou]+").cast("double")
    sents = F.greatest(
        F.lit(1), runs(F.col("text"), r"[.!?]+")
    ).cast("double")
    return docs.select(
        "doc_id",
        words.cast("bigint").alias("n_words"),
        syl.cast("bigint").alias("n_syllables"),
        # the Flesch double is IEEE-identical cross-engine; the
        # HAZARD is rounding it — route through decimal(18,10) so a
        # 4dp half-boundary becomes an exact, engine-consistent tie
        # (round-7 boundary probe caught a live 3e-10 case)
        F.round(
            (
                F.lit(206.835)
                - 1.015 * (words / sents)
                - 84.6 * (syl / words)
            ).cast("decimal(18,10)"),
            4,
        )
        .cast("double")
        .alias("flesch"),
    ).orderBy("doc_id")


def t28(spark: SparkSession, d: str) -> DataFrame:
    """Per-document keyword extraction (round 6): the top-2 TF-IDF
    terms per document — the cheap RAKE-replacement every corpus
    tagger starts with. Reuses operators/text.py::tf_idf (df from
    the tf table itself, no second tokenize) and picks keywords
    with a per-doc window over the ROUNDED score with term
    tie-break — rank-deterministic cross-engine. The df/idf stats
    come from the FULL corpus; only the output is restricted
    (doc_id < 30) to keep the entry bounded at any SF. The window
    partitions by doc — scales with the corpus."""
    out = text.tf_idf(
        t(spark, d, "documents"), "text", "doc_id", persist=False
    ).select(
        "doc_id", "term", F.round("tfidf", 6).alias("ti")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("ti"), "term")
    # "kw_rank", not "rank": RANK is a keyword in the oracle engine
    return (
        out.withColumn("kw_rank", F.row_number().over(w).cast("bigint"))
        .filter((F.col("kw_rank") <= 2) & (F.col("doc_id") < 30))
        .select("doc_id", "kw_rank", "term", "ti")
        .orderBy("doc_id", "kw_rank")
    )


def t29(spark: SparkSession, d: str) -> DataFrame:
    """Per-source n-gram novelty rate (round 6): for each source,
    the fraction of its documents' distinct 3-gram shingles that
    FIRST appear (min doc_id corpus-wide) in one of that source's
    own documents — the crawl-order redundancy audit ("is this feed
    still contributing new text, or re-serving what we already
    have?") that sits upstream of dedup spend decisions: a source
    whose novelty collapses is a candidate for sampling down before
    MinHash ever runs.

    Scale shape: ``source`` rides THROUGH the shingle explode, so
    the whole query is two hash aggs over one checkpointed exploded
    frame — no corpus-sized join anywhere (the only join is the
    ~|sources|-row rollup merge): per-source gram totals are a
    direct count, and each gram's first doc comes as
    min(struct(doc_id, source)) (doc_id is unique, so the struct
    min is a total order) whose source field rolls straight up. No
    windows, no self-joins;
    every count is an exact integer and the rate is one exact
    integer division (the d39 discipline)."""
    docs = t(spark, d, "documents")
    dg = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(dedup.word_shingles(F.col("text"), 3))
        ).alias("gram"),
    ).localCheckpoint(eager=False)
    totals = dg.groupBy("source").agg(F.count("*").alias("n_grams"))
    novel = (
        dg.groupBy("gram")
        .agg(F.min(F.struct("doc_id", "source")).alias("_m"))
        .select(F.col("_m.source").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        totals.join(novel, "source", "left")
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


def d38(spark: SparkSession, d: str) -> DataFrame:
    """URL-canonicalization dedup (round 6; operators/text.py::
    canonical_url + url_dedup_groups): the crawl-dedup step that
    runs BEFORE any content hashing — fold scheme/host case, strip
    query+fragment, trim the trailing slash, then exact-group on
    the canonical key. Two planted messy variants per doc (testdata
    has no organic URLs) collapse to one canonical form each:
    uppercase-host + ?utm tracking vs lowercase + trailing slash.

    Scale: canonicalization is scan-side regexp/lower expressions;
    the dedup is ONE hash aggregate on the canonical key (no
    window, no self-join) — the exact_dedup shape."""
    docs = t(spark, d, "documents")
    u1 = F.concat(
        F.lit("HTTPS://S"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".Example.ORG/Page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("?utm="),
        F.col("doc_id").cast("string"),
    )
    u2 = F.concat(
        F.lit("https://s"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.org/Page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("/"),
    )
    urls = docs.select(
        F.explode(F.array(u1, u2)).alias("url"),
        F.col("doc_id").alias("uid"),
    )
    return (
        text.url_dedup_groups(urls, "url", "uid")
        .orderBy(F.desc("n"), "canon_url")
        .limit(20)
    )


def d39(spark: SparkSession, d: str) -> DataFrame:
    """Out-of-vocabulary rate per source (round 6): coverage of a
    top-K corpus vocabulary — the tokenizer-fit health check run
    before training (high OOV = the vocab or the source is wrong).
    Vocabulary = top 100 tokens by global count with token
    tie-break (deterministic); per-source OOV rate = tokens outside
    it / all tokens, an integer ratio (exact division of exact
    counts — no order-dependent aggregate anywhere).

    Scale: token counts are one explode + hash agg; the vocab is a
    100-row TakeOrdered result BROADCAST back against the token
    stream (left join on a 100-key build side — never a shuffle of
    the corpus by token); rates are one agg per source."""
    toks = (
        t(spark, d, "documents")
        .select("source", F.explode(text.tokens_ws(F.col("text"))).alias("tok"))
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(100)
        .select("tok", F.lit(1).alias("_inv"))
    )
    flagged = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias(
                "oov_rate"
            ),
        )
        .orderBy("source")
    )



def d40(spark: SparkSession, d: str) -> DataFrame:
    """Maximal duplicated-substring spans (round 7;
    operators/dedup.py::substring_dup_spans): the suffix-array
    substring dedup of Lee et al. 2022 re-expressed relationally —
    overlapping 5-token shingles with positions, cross-doc-shared
    positions merged into maximal runs by gaps-and-islands. The
    exact sibling of d17 (which counts non-overlapping span
    membership): this one recovers span BOUNDARIES and lengths,
    i.e. what the cut-the-span rewrite consumes. Top duplicated
    docs by total duplicated tokens.

    Scale: shingle frequency is one md5-keyed hash agg (map-side
    partials); the join back is co-partitioned; the islands window
    runs per doc over only the duplicated positions. Corpus text
    never re-shuffles."""
    return (
        dedup.substring_dup_spans(
            t(spark, d, "documents"), "text", "doc_id", k=5
        )
        .orderBy(F.desc("dup_tokens"), "doc_id")
        .limit(100)
    )



def d41(spark: SparkSession, d: str) -> DataFrame:
    """Cross-lingual doc alignment candidates (round 7;
    operators/dedup.py::crosslingual_align_candidates): each non-en
    doc buckets on the md5 of its globally-rarest BIGRAM and
    keeps its best en match by exact gram-set Jaccard — the
    hash-based candidate-mining stage that classically precedes an
    embedding scorer in bitext mining. Scores stay exact BIGINT
    (inter, uni) — no rounded ratio (boundary-probe discipline).

    Gram anchors + a 64-doc anchor cap are the round-7 100× sweep
    fix: rare UNIGRAMS on a small-vocab corpus flooded their anchor
    buckets and the first spelling's candidate join filled the disk
    at the 100× fixture; 3-of-rarest-trigram anchors over-corrected
    to vacuity (singleton grams never collide), so the corpus entry
    anchors on the single rarest bigram — 756 candidate pairs, max
    bucket 14 at sf0.01 — and the cap bounds any refresh.

    Scale: gram-df agg + anchor window + capped md5-keyed bucket
    join + an exploded-narrow verify — no array-carrying joins, no
    cross products (2-key equi-join on (pid, gram))."""
    return (
        dedup.crosslingual_align_candidates(
            t(spark, d, "documents"),
            "text",
            "doc_id",
            "lang",
            n_anchor=1,
            gram_k=2,
        )
        .orderBy("doc_id")
        .limit(100)
    )



def d42(spark: SparkSession, d: str) -> DataFrame:
    """Per-source contamination DIRECTION (round 7;
    operators/dedup.py::containment_direction): d36's overlap matrix
    refined to a who-contains-whom verdict per unordered source
    pair, decided by exact integer cross-multiplication at a 10%%
    containment threshold — zero divisions or rounds anywhere.
    Output bounded at |sources|² rows at any corpus size."""
    return (
        dedup.containment_direction(
            t(spark, d, "documents"), "text", "source", k=3, hi_pct=10
        )
        .orderBy("grp_a", "grp_b")
        .limit(200)
    )



def d43(spark: SparkSession, d: str) -> DataFrame:
    """RAG chunk-overlap audit (round 7;
    operators/text.py::rag_chunk_overlap_audit): chunk the corpus
    into 40-token windows (8-token overlap, the chunk_tokens/t09
    chunker), then per source count chunks that are >= 50%% composed
    of 5-gram shingles occurring in ANOTHER document's chunks — the
    retrieval-index redundancy check run before building a RAG
    store. Within-doc sharing never counts; the redundancy verdict
    is the exact integer comparison shared*2 >= total."""
    return (
        text.rag_chunk_overlap_audit(
            t(spark, d, "documents"), "text", "doc_id", "source"
        )
        .orderBy("source")
    )



def t30(spark: SparkSession, d: str) -> DataFrame:
    """Good-Turing frequency spectrum over 3-grams (round 7;
    operators/text.py::freq_of_freqs): how many gram types occur
    exactly f times (head capped at 11+) — the Zipf-tail audit
    behind smoothing and dedup-threshold choices. All counts exact
    BIGINT; two hash aggs, no joins, no windows."""
    return (
        text.freq_of_freqs(t(spark, d, "documents"), "text", k=3)
        .orderBy("freq_class")
    )



def d44(spark: SparkSession, d: str) -> DataFrame:
    """MinHash-agreement Jaccard estimation ATTESTED against exact
    Jaccard (round 7): for every pair in a bounded doc panel, the
    number of agreeing signature slots (E[slots/16] = J, the MinHash
    contract) next to the exact intersection/union sizes — the d02
    signature family joining the t25/v07/r81/d35 sketch-attestation
    tier. All outputs exact integers: the estimator's quality is in
    the data, not in a rounded ratio.

    Scale: signatures are corpus-scale (scan + one doc-keyed agg);
    only the PAIR PANEL is bounded (doc_id < 60 -> 1770 pairs, the
    bound-the-instrument doctrine) because listing all pairs is the
    gate's job, not the operator's; production pairs come from LSH
    buckets (d02/d06)."""
    docs = t(spark, d, "documents").filter(F.col("doc_id") < 60)
    sig = dedup.minhash_signature(docs, "text", "doc_id", num_hashes=16, k=3)
    a = sig.select(F.col("doc_id").alias("i"), F.col("sig").alias("_sa"))
    b = sig.select(F.col("doc_id").alias("j"), F.col("sig").alias("_sb"))
    slots = F.size(
        F.filter(
            F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda z: z
        )
    ).cast("bigint")
    pe = (
        a.join(b, F.col("i") < F.col("j"))
        .select("i", "j", slots.alias("slots_eq"))
    )
    g = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(dedup.word_shingles(F.col("text"), 3))
        ).alias("_g"),
    )
    sz = g.groupBy("doc_id").agg(F.count("*").alias("_n"))
    it = (
        g.select(F.col("doc_id").alias("i"), "_g")
        .join(g.select(F.col("doc_id").alias("j"), "_g"), "_g")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("_it"))
    )
    return (
        pe.join(it, ["i", "j"], "left")
        .join(sz.select(F.col("doc_id").alias("i"), F.col("_n").alias("_na")), "i")
        .join(sz.select(F.col("doc_id").alias("j"), F.col("_n").alias("_nb")), "j")
        .select(
            "i",
            "j",
            "slots_eq",
            F.coalesce(F.col("_it"), F.lit(0)).cast("bigint").alias("inter"),
            (F.col("_na") + F.col("_nb") - F.coalesce(F.col("_it"), F.lit(0)))
            .cast("bigint")
            .alias("uni"),
        )
        .orderBy("i", "j")
        .limit(300)
    )



def t31(spark: SparkSession, d: str) -> DataFrame:
    """Language-ID confusion audit (round 7): t04's heuristic
    classifier evaluated against the ground-truth ``lang`` column as
    a long-form confusion matrix — the eval loop every corpus
    language gate needs before its output drives mixture weights
    (t04 scores documents; this scores the SCORER). All counts exact
    integers; one scan + one tiny hash agg."""
    pred = text.lang_id(t(spark, d, "documents"), "text")
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_pred")
    )


def m04(spark: SparkSession, d: str) -> DataFrame:
    """GIF codec attestation as a driver row (round 8;
    operators/multimodal.py::gif_attest_features): fabricate a
    deterministic 8×8 paletted image per doc id from pure integer
    arithmetic, push it through the REAL giflite encoder AND decoder
    (palette build, variable-width LZW both ways, palette mapping)
    inside Arrow ``mapInPandas``, and report exact-integer stats of
    the DECODED pixels. The oracle replays the fabrication in SQL
    without touching bytes — the z32/m02 attestation pattern, now
    covering the fourth native codec. Bounded instrument: 100 ids
    at any corpus size."""
    from zappy_spark.operators import multimodal

    ids = t(spark, d, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    return (
        multimodal.gif_attest_features(ids, "doc_id")
        .orderBy("media_id")
    )


def v27(spark: SparkSession, d: str) -> DataFrame:
    """MMR diversity re-ranking (round 9;
    operators/similarity.py::mmr_rerank): 20-query panel → exact
    cosine top-8 via knn_join (round-4 discipline) → 3-step greedy
    MMR selection at λ=0.7/μ=0.3 — the standard step between ANN
    retrieval and a RAG context window. The oracle unrolls the same
    3 argmaxes with ROW_NUMBER; relevance and pairwise sims are
    rounded to 4 digits BEFORE scoring, so every comparison is
    identical IEEE arithmetic on identical inputs in both engines.

    Scale: the ANN stage is the v08 shape (broadcast query panel ×
    one candidate scan + per-query window top-k); the MMR loop then
    touches only the |Q|×8 panel — selection cost is independent of
    corpus size."""
    from zappy_spark.operators.similarity import knn_join, mmr_rerank_batch

    emb = t(spark, d, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= 20)
    top = knn_join(
        c, q, "embedding", "vec_id", "qv", "qid", k=8, round_digits=4
    )
    cand = top.join(
        c.select("vec_id", F.col("embedding").alias("cv")), "vec_id"
    )
    return mmr_rerank_batch(
        cand, "qid", "vec_id", "cv", "sim", k=3, lam=0.7, mu=0.3
    ).orderBy("qid", "rnk")


def m06(spark: SparkSession, d: str) -> DataFrame:
    """ViT patch-extraction attestation (round 9;
    operators/multimodal.py::image_patch_features): deterministic
    16×16 grayscale images through the REAL pnglite encoder (Paeth
    filter) AND decoder, then the (H/P, P, W/P, P)-reshape patch
    grid — one row of exact-integer stats per 8×8 patch. The oracle
    replays fabrication + patch arithmetic closed-form (no bytes),
    so the hash pins the codec round-trip AND the patch
    bookkeeping. Bounded instrument: 100 ids, 400 rows at any
    corpus size."""
    from zappy_spark.operators import multimodal

    ids = t(spark, d, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    return multimodal.image_patch_features(ids, "doc_id", patch=8).orderBy(
        "media_id", "patch_y", "patch_x"
    )


def m07(spark: SparkSession, d: str) -> DataFrame:
    """Netpbm codec attestation as a driver row (round 9;
    operators/multimodal.py::pnm_attest_features): deterministic
    8×8 RGB + 0/255 bitmap through REAL binary P6 and bit-packed P4
    encode/decode inside Arrow mapInPandas; exact-integer stats of
    the decoded pixels, closed-form oracle, bounded 100-id
    instrument — the sixth native codec gains the same driver gate
    as PNG/GIF/WAV (m02/m04/m05/m06)."""
    from zappy_spark.operators import multimodal

    ids = t(spark, d, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    return multimodal.pnm_attest_features(ids, "doc_id").orderBy(
        "media_id"
    )


def t36(spark: SparkSession, d: str) -> DataFrame:
    """Quantile-sketch attestation (round 8, queued r9-head — the
    r81/v07/t25/d35/d44 estimator-contract trick applied to the LAST
    uncovered sketch family): per l_returnflag, the EXACT median and
    p90 of l_quantity (the r31 interpolation-parity spelling, the
    portable output) next to booleans attesting that Spark's
    ``percentile_approx`` (Greenwald–Khanna, accuracy=100 → rank
    error ≤ n/100) met its contract on this data. Ties make the
    naive |count(≤v) − p·n| ≤ εn check WRONG (l_quantity is 50
    discrete values, each carrying ~2% mass > ε) — the correct
    attest is interval intersection: the returned value's rank span
    [count(<v), count(≤v)] must overlap [(p−ε)n, (p+ε)n]. The
    oracle recomputes the exact quantiles and asserts the contract
    booleans TRUE; a sketch regression (or a broken attest spelling)
    flips the hash.

    Scale: two hash aggregates over one scan plus a 3-row broadcast
    join back for the rank counts; at 100 TB the sketch (not the
    exact percentile) is the production path — this entry is the
    gate that LETS a pipeline trust it."""
    li = t(spark, d, "lineitem").select("l_returnflag", "l_quantity")
    # r13 (VERDICT r12 item 6, fuse multi-action instruments): the
    # sketch and the exact percentiles are the SAME groupBy over the
    # same scan — one aggregate instead of two (2 lineitem scans
    # become 1; the rank pass below is the only other). Identical
    # agg functions over identical groups, so every value is
    # unchanged.
    stats = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_quantity", F.lit(0.5), F.lit(100)
            ).alias("_a50"),
            F.percentile_approx(
                "l_quantity", F.lit(0.9), F.lit(100)
            ).alias("_a90"),
            F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias(
                "p90"
            ),
            F.count("*").alias("n"),
        )
        # 3-row frame feeding two consumers — materialize lazily so
        # the fused aggregate truly runs once (ReuseExchange does not
        # fire across the join/select asymmetry)
        .localCheckpoint(eager=False)
    )
    approx = stats.select("l_returnflag", "_a50", "_a90")
    exact = stats.select("l_returnflag", "p50", "p90", "n")
    ranks = (
        li.join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                (F.col("l_quantity") < F.col("_a50")).cast("bigint")
            ).alias("_lt50"),
            F.sum(
                (F.col("l_quantity") <= F.col("_a50")).cast("bigint")
            ).alias("_le50"),
            F.sum(
                (F.col("l_quantity") < F.col("_a90")).cast("bigint")
            ).alias("_lt90"),
            F.sum(
                (F.col("l_quantity") <= F.col("_a90")).cast("bigint")
            ).alias("_le90"),
        )
    )

    def _ok(lt, le, p):
        # rank interval [lt, le] must overlap [(p-eps)n, (p+eps)n];
        # eps = 1/accuracy = 0.01, with +1 absolute slack for the
        # integer rank endpoints
        lo = p * F.col("n") - F.col("n") / 100 - 1
        hi = p * F.col("n") + F.col("n") / 100 + 1
        return (F.col(le) >= lo) & (F.col(lt) <= hi)

    return (
        exact.join(ranks, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            "p50",
            "p90",
            _ok("_lt50", "_le50", 0.5).alias("sketch_ok_p50"),
            _ok("_lt90", "_le90", 0.9).alias("sketch_ok_p90"),
        )
        .orderBy("l_returnflag")
    )


def t37(spark: SparkSession, d: str) -> DataFrame:
    """BPE merge-loop tokenizer training (round 9, VERDICT r8 item 4
    — the most-used data-pipeline operator the corpus lacked;
    operators/text.py::bpe_train_merges): 6 iterations of
    count-adjacent-symbol-pairs → pick the most frequent
    (deterministic tie-break) → greedy left-to-right merge, over the
    lowercased ``[a-z0-9]+`` vocabulary of ``documents.text``.
    Output = the merge schedule (step, lhs, rhs, merged, pair_n),
    byte/integer-exact.

    Oracle: the v09-Lloyd's fixed-iteration pattern, unrolled — six
    chained CTE stages each recomputing pair counts, taking the same
    deterministic argmax, and applying the merge with the SAME
    ``replace(s,'|l||r|','|lr|')`` string form, so both engines run
    the identical algorithm end-to-end (not a sampled check).

    Scale: the corpus collapses to the Heaps-bounded (word, freq)
    vocab in ONE hash agg; each iteration is a narrow pair explode +
    map-side-combinable agg + TakeOrderedAndProject(1) — the 1-row
    driver collects are the kmeans centroids-as-literals precedent,
    keeping lineage linear in the merge count, and they ARE the
    returned rows (collecting the result re-runs no step)."""
    from zappy_spark.operators.text import bpe_train_merges

    return bpe_train_merges(t(spark, d, "documents"), "text", n_merges=6)


def t39(spark: SparkSession, d: str) -> DataFrame:
    """BPE subword segmentation audit (round 9 — the APPLY half of
    VERDICT r8 item 4's "train K merges, apply, re-count";
    operators/text.py::bpe_segment_stats): per source, the corpus
    token economics under the 6 merges t37 trains — words, chars,
    subwords after segmentation, out-of-scope words. Fertility and
    compression ratio are one division away from the exact BIGINTs.

    Scale: a word's subword count is a deterministic EXPRESSION of
    the word (wrap → 6 literal replaces → count), so the audit is
    ONE corpus scan with no join — the trained merge table compiles
    into the scan — plus a |sources|-row agg. The oracle re-trains
    with the t37 CTE prefix and segments with the same replaces:
    the full train→apply loop replays on both engines."""
    from zappy_spark.operators.text import bpe_segment_stats

    return bpe_segment_stats(
        t(spark, d, "documents"), "text", "source", n_merges=6
    ).orderBy("source")


# t42's planted-unicode suffix, built from explicit codepoints (most
# are invisible or editor-hostile; the oracle embeds the SAME constant,
# so query and SQL cannot diverge on a character an editor can't show).
_T42_SUFFIX = (
    " \u201cquoted\u201d \u2018single\u2019 dash\u2014here \u2013"
    " full\uff57\uff49\uff44\uff54\uff28\uff10\uff11"
    " lig\ufb01x\ufb02y \u2026 nb\u00a0sp zero\u200bwidth"
    " bom\ufeff end"
)


def t42(spark: SparkSession, d: str) -> DataFrame:
    """Unicode normalization lite (round 9;
    operators/text.py::normalize_unicode_lite): planted unicode -
    curly quotes, en/em dashes, fullwidth alphanumerics, NBSP,
    zero-width characters, ellipsis, fi/fl ligatures (fixture text
    is pure ASCII - the t08 precedent) - folded to ASCII by ONE
    scan-side translate + three replaces; every cleaned byte
    hash-checks against DuckDB's identical translate (verified:
    both engines share the 1:1-positional drop-when-shorter
    semantics). doc_id % 3 == 2 rows pass through untouched (the
    no-op path is part of the contract)."""
    from zappy_spark.operators.text import normalize_unicode_lite

    docs = t(spark, d, "documents")
    planted = F.when(
        F.col("doc_id") % 3 == 2, F.col("text")
    ).otherwise(
        F.concat(F.substring("text", 1, 40), F.lit(_T42_SUFFIX))
    )
    return (
        docs.select(
            "doc_id", normalize_unicode_lite(planted).alias("clean")
        )
        .orderBy("doc_id")
        .limit(120)
    )


def t40(spark: SparkSession, d: str) -> DataFrame:
    """C4 sentence/terminal-punctuation audit (round 9;
    operators/text.py::sentence_stats) over planted sentences
    (fixture text has no punctuation — the t08 precedent): a CASE
    over doc_id plants one-sentence docs, non-terminal tails,
    terminal tails, and trailing-space endings, then the per-source
    counts replay exactly in SQL (regexp_count ↔
    len(regexp_extract_all), same ``[.!?]+`` runs). Scale: one scan
    of scan-side expressions + a |sources|-row agg."""
    from zappy_spark.operators.text import sentence_stats

    docs = t(spark, d, "documents")
    i = F.col("doc_id").cast("string")
    tail = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("No terminal tail"))
        .when(F.col("doc_id") % 3 == 1, F.lit("Short tail."))
        .otherwise(F.lit(""))
    )
    planted = F.when(
        F.col("doc_id") % 5 == 4,
        F.concat(F.lit("Only one sentence for doc "), i, F.lit(".")),
    ).otherwise(
        F.concat(
            F.substring("text", 1, 80),
            F.lit(". "),
            F.substring("text", 81, 60),
            F.lit("! Is it "),
            i,
            F.lit("? "),
            tail,
        )
    )
    return sentence_stats(
        docs.select("source", planted.alias("ptext")), "ptext", "source"
    ).orderBy("source")


def t41(spark: SparkSession, d: str) -> DataFrame:
    """Per-language stopword-coverage audit (round 9;
    operators/text.py::stopword_coverage — the CCNet quality
    signal): per lang, exact token/stopword counts and the
    <5%-coverage doc count, the low-coverage decision an integer
    cross-multiplication. The per-lang lists ride into the scan as
    a map literal (element_at + array_contains inside an array
    filter) — no join, no explode; oracle replays the same CASE'd
    list_contains filter."""
    from zappy_spark.operators.text import stopword_coverage

    return stopword_coverage(
        t(spark, d, "documents"), "text", "lang"
    ).orderBy("lang")


def d50(spark: SparkSession, d: str) -> DataFrame:
    """End-to-end near-dup CLUSTER ledger (round 9) — the full
    production dedup flow composed from proven parts: d19's
    df-capped span edges → connected components (transitive
    closure; pairwise-only dedup gets (a,b),(b,c) wrong) → d09's
    canonical keep-best selection per cluster (highest n_chars,
    ties to the lowest doc_id) → the audit ledger: per multi-doc
    cluster, its size, the kept doc, and the chars removed. This is
    the view a data team actually reviews before deleting anything.

    Oracle: d19's recursive-CTE closure extended with the same
    ROW_NUMBER keep-best and SUM−kept arithmetic — the whole flow
    replays, not just the clustering step.

    Scale: edges are span-df-capped (fan-out ≤ C(8,2) per span), CC
    is the iterative min-label propagation with localCheckpoint
    lineage cuts, selection is ONE max_by hash agg — nothing
    all-pairs, nothing single-partition."""
    docs = t(spark, d, "documents")
    return (
        dedup.dedup_cluster_ledger(
            docs, "text", "doc_id", "n_chars",
            **dedup.D50_LEDGER_PARAMS,
        )
        .orderBy("component")
        .limit(200)
    )


def d51(spark: SparkSession, d: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (round 12;
    operators/dedup.py::winnow_dup_pairs — the MOSS algorithm,
    Schleimer/Wilkerson/Aiken SIGMOD 2003): k=12-char-gram md5
    hashes, w=4 local-window minimum with rightmost tie-break, then
    pairs sharing >= 50% of the smaller sketch. The SIXTH near-dup
    tier: unlike MinHash (d06, bag-of-shingles Jaccard) or SimHash
    (d03, global bit vote), winnowing is COMPLETE for any shared
    run of >= k+w-1 = 15 chars — the plagiarism/template-reuse
    detector. At sf0.01 the planted replica pairs separate cleanly:
    every selected pair has ovl >= 0.9 while background 40-word-
    vocab gram noise stays under 0.5. Instrument bounded to
    ``doc_id < 2000`` (a no-op at sf0.01; the d06/d13/d37
    bound-the-instrument doctrine). The oracle replays the ENTIRE
    selection — same md5-prefix keys, same fixed-width position
    packing, same windowed MIN — not just the pair join."""
    pairs = dedup.winnow_dup_pairs(
        t(spark, d, "documents").filter(F.col("doc_id") < 2000),
        "text",
        "doc_id",
        k=12,
        w=4,
        min_overlap=0.5,
    )
    return pairs.orderBy(F.desc("ovl"), "i", "j").limit(50)


def d49(spark: SparkSession, d: str) -> DataFrame:
    """Public-suffix registrable-domain audit (round 9;
    operators/text.py::registrable_domain + domain_suffix_audit)
    over planted URLs (the t12 precedent): three hosts per doc —
    ``a.s{k}.co.uk`` (multi-label suffix: naive last-two-labels
    grouping would call every .co.uk site ONE domain),
    ``cdn{k}.github.io`` (private-registry suffix), and
    ``www.site{k}.com`` — then per-suffix doc mentions + distinct
    sites. The oracle replays the identical longest-match CASE
    (first-match-wins = the PSL stop rule)."""
    from zappy_spark.operators.text import domain_suffix_audit

    docs = t(spark, d, "documents")
    planted = F.concat(
        F.substring("text", 1, 20),
        F.lit(" http://a.s"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".co.uk/x and https://cdn"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit(".github.io/y plus https://www.site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/z end"),
    )
    return domain_suffix_audit(
        docs.select(planted.alias("ptext")), "ptext"
    ).orderBy("suffix")


def t38(spark: SparkSession, d: str) -> DataFrame:
    """Markup stripping / text extraction (round 9, VERDICT r8 item
    5; operators/text.py::strip_markup): plant four deterministic
    markup shapes over ``documents.text`` (the t08 planted-PII
    pattern — testdata has no organic HTML) — a full page with
    script/style/comment blocks + the entity set, nested divs with
    an id interpolation, untouched text, and an UPPERCASE-tag list —
    then strip and emit the cleaned strings. Both engines run the
    identical regexp/replace chain, so every byte of the output
    hash-checks the whole pipeline: block removal, tag removal,
    entity decode order (&amp; last), whitespace collapse.

    Scale: scan-side expression chain, zero shuffles before the
    presentation orderBy; wired AHEAD of the quality-filter family
    (t02/t19 consume clean text at 100 TB)."""
    from zappy_spark.operators.text import strip_markup

    docs = t(spark, d, "documents")
    i = F.col("doc_id").cast("string")
    head60 = F.substring("text", 1, 60)
    head40 = F.substring("text", 1, 40)
    planted = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(
                    '<!DOCTYPE html><html><head><style type="text/css">\n'
                    "body {color: #fff}\n</style><script src=\"a.js\">\n"
                    'var a = 1 < 2 && "x";\n</script></head><body>'
                    '<h1 class="t">'
                ),
                head60,
                F.lit("</h1><!-- hidden\ncomment --><p>doc &amp; "),
                i,
                F.lit(" &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit('<div id="d'), i, F.lit('"><p>'), head60,
                F.lit("</p><br/></div>"),
            ),
        )
        .when(F.col("doc_id") % 4 == 2, F.col("text"))
        .otherwise(
            F.concat(
                F.lit("<UL><LI>"), head40,
                F.lit("</LI><LI>item &amp; more</LI></UL>"),
            )
        )
    )
    return (
        docs.select("doc_id", strip_markup(planted).alias("clean"))
        .orderBy("doc_id")
        .limit(120)
    )


def d48(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic epoch-shuffle ordering (round 8, queued r9-head):
    assign every document its global position in a reproducible
    training-shuffle epoch — position = dense global row number under
    the order md5('epoch7:' || doc_id) — plus the 256-doc global
    batch it lands in. This is the data-ordering step a reproducible
    training run needs (same corpus + same seed string → the same
    batch schedule on any engine, any partitioning, any restart);
    pairs with d31's rendezvous sharding (which answers WHERE a doc
    lives, not WHEN it is consumed).

    Scale: the naive spelling is ROW_NUMBER over a global ORDER BY —
    a single-partition sort at 100 TB. This entry instead ranks by
    the shuffle key through the range-bucketed two-pass operator
    (operators/ranking.py::with_global_ranks, the r40 machinery):
    the hex key maps order-isomorphically onto a 60-bit integer
    (fixed-width lowercase hex compares like its value), buckets are
    ~equi-depth by approxQuantile, and the only full shuffle is the
    balanced per-bucket hash — no single-partition stage. The oracle
    replays the naive ROW_NUMBER form; output is panel-bounded
    (doc_id < 2000) AFTER positions are computed over the whole
    corpus."""
    from zappy_spark.operators.ranking import with_global_ranks

    keyed = t(spark, d, "documents").select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("epoch7:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("_k"),
    )
    ranked = with_global_ranks(
        keyed,
        "_k",
        tiebreak=["doc_id"],
        buckets=16,
        row_number_col="epoch_pos",
    )
    return (
        ranked.filter(F.col("doc_id") < 2000)
        .select(
            "doc_id",
            "epoch_pos",
            F.expr("CAST((epoch_pos - 1) DIV 256 AS BIGINT)").alias(
                "batch_id"
            ),
        )
        .orderBy("doc_id")
    )


def m05(spark: SparkSession, d: str) -> DataFrame:
    """Audio framing attestation as a driver row (round 8, queued
    r9-head; operators/multimodal.py::wav_attest_features): fabricate
    a deterministic square wave per doc id from pure integer
    arithmetic, push it through the REAL wavlite encoder AND decoder
    (RIFF/PCM container both ways), then run the speech-pipeline
    framing pass — 160-sample frames, per-frame zero-crossing counts,
    exact energy, active-frame silence trim — on the DECODED samples
    only. The oracle replays the fabrication closed-form in SQL
    (divisor counting for the crossings — no series scan) without
    touching bytes: the z32/m02/m04 attestation pattern extended to
    the audio DSP layer. Bounded instrument: 100 ids at any corpus
    size."""
    from zappy_spark.operators import multimodal

    ids = t(spark, d, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    return (
        multimodal.wav_attest_features(ids, "doc_id")
        .orderBy("media_id")
    )


def d45(spark: SparkSession, d: str) -> DataFrame:
    """Perceptual-hash image near-dup (round 8, VERDICT r7 item 2;
    operators/multimodal.py::image_hash_bands +
    operators/dedup.py::hamming_candidate_pairs): the most common
    image-corpus pipeline step, joining the real-codec layer to the
    dedup family. Embeddings quantize to REAL 8×8 grayscale PNG
    payloads (embedding_png_images), the aHash is computed from the
    DECODED pixels as 4×16-bit integer bands, and near-dups are the
    banded Hamming join at distance ≤ 3 — EXACT by pigeonhole with
    4 bands, so the DuckDB oracle replays the whole pipeline from
    the embedding floats (quantization arithmetic is two IEEE
    double ops + floor, bit-reproducible cross-engine).

    Planted structure: vec_id < 50 get a clone at vec_id+100000
    with e[0] nudged by +0.001 (≤ 1 pixel level) — guaranteed
    near-dups threading encode→decode→hash→band-join end-to-end.

    Scale: hashes are 17 bytes/image; only (id, band) pairs
    shuffle; the banded join is the lsh_candidate_pairs shape with
    the same flood-cap knob (None here: exact oracle semantics;
    the planted-clone panel is bounded at any SF)."""
    from zappy_spark.operators import multimodal

    emb = (
        t(spark, d, "embeddings")
        .filter(F.col("vec_id") < 2000)
        .select(F.col("vec_id").cast("long").alias("vec_id"), "embedding")
    )
    clones = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, k) -> CAST(CASE WHEN k = 0 "
            "THEN x + 0.001 ELSE x END AS FLOAT))"
        ).alias("embedding"),
    )
    imgs = multimodal.embedding_png_images(emb.unionByName(clones))
    hashes = multimodal.image_hash_bands(imgs)
    return (
        dedup.hamming_candidate_pairs(hashes, "media_id", max_ham=3)
        .orderBy("i", "j")
        .limit(300)
    )


def t32(spark: SparkSession, d: str) -> DataFrame:
    """Charset/script profile audit (round 8, VERDICT r7 item 6;
    operators/text.py::charset_class_counts): per event type, exact
    character-class counts over the JSON payloads — the
    garbled-payload / wrong-encoding detector a crawl ingest gate
    runs before parsing. The documents table is pure lowercase+space
    at every SF (a script histogram there is vacuous), so the entry
    audits ``events.props``, which mixes letters, digits, spaces and
    JSON punctuation; the operator's full Unicode script ranges
    (Cyrillic/Greek/Arabic/CJK) are pinned on planted multiscript
    texts in tests/test_operators.py, spelled in the engine-portable
    POSIX subset here. One scan + a ≤|event_types| hash agg; all
    counts exact length-deltas of regexp_replace — scan-side,
    codegen'd."""
    ev = t(spark, d, "events").select(
        "event_type", F.col("props").alias("txt")
    )
    prof = text.charset_class_counts(
        ev,
        "txt",
        classes=(("latin", "[A-Za-z]"), ("digit", "[0-9]"), ("space", "[ ]")),
    )
    return (
        prof.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("n_total").cast("bigint").alias("chars"),
            F.sum("n_latin").cast("bigint").alias("latin"),
            F.sum("n_digit").cast("bigint").alias("digit"),
            F.sum("n_space").cast("bigint").alias("space"),
            F.sum("n_other").cast("bigint").alias("other"),
        )
        .orderBy("event_type")
    )


def d46(spark: SparkSession, d: str) -> DataFrame:
    """C4-style block dedup ledger (round 8, VERDICT r7 item 6;
    operators/dedup.py::block_dedup_ledger): keep-first dedup of
    non-overlapping 16-token blocks — C4's duplicate-span removal
    mechanics on this corpus's unit (no sentence delimiters exist,
    so the block stands in for the three-sentence span; documented
    in the operator). Returns the top-100 docs by tokens an actual
    rewrite pass would cut — the ledger d17's membership stats
    can't provide. One explode + one md5-keyed agg + a
    co-partitioned join; text never shuffles."""
    return (
        dedup.block_dedup_ledger(
            t(spark, d, "documents"), "text", "doc_id", block_tokens=16
        )
        .orderBy(F.desc("removed_tokens"), "doc_id")
        .limit(100)
    )


def t33(spark: SparkSession, d: str) -> DataFrame:
    """Per-domain quality-classifier calibration audit (round 8,
    VERDICT r7 item 6): bucket a deterministic quality score — the
    type-token ratio, as the EXACT integer decile (nd·10) DIV nt,
    no float division anywhere — against a ground-truth label
    (n_chars > 450, the corpus median split) and report the
    reliability-diagram counts per source. The audit a team runs
    before a quality classifier's scores drive mixture weights: a
    monotone n_pos/n profile per bucket means the score ranks
    usefully, a flat one means it doesn't (here TTR anti-correlates
    with length — exactly the kind of finding the audit exists to
    surface). One scan + one ≤|sources|·10-row hash agg; all
    integers."""
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    f = (
        t(spark, d, "documents")
        .select(
            "source",
            "n_chars",
            F.size(F.array_distinct(toks)).alias("_nd"),
            F.size(toks).alias("_nt"),
        )
        .filter(F.col("_nt") >= 1)
    )
    bucket = F.least(
        F.lit(9), F.expr("CAST((_nd * 10) DIV _nt AS INT)")
    )
    return (
        f.select(
            "source",
            bucket.alias("score_bucket"),
            (F.col("n_chars") > 450).cast("bigint").alias("_pos"),
        )
        .groupBy("source", "score_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("_pos").cast("bigint").alias("n_pos"),
        )
        .orderBy("source", "score_bucket")
    )


def t35(spark: SparkSession, d: str) -> DataFrame:
    """Inter-rater agreement audit via Cohen's kappa (round 8, queued
    r9-head): the label-QA step a team runs before trusting annotator
    (or model-judge) labels enough to train on them — raw agreement
    overstates reliability when classes are imbalanced, kappa (Cohen
    1960) corrects by the chance-agreement of the raters' marginals.
    Two deterministic 3-class raters both engines can derive exactly:
    rater A buckets n_chars at the corpus terciles (216/374), rater B
    buckets the filtered-token count at ITS terciles (39/69) — highly
    correlated raters that disagree at boundaries, exactly the
    regime kappa exists for. Per lang, the output is all-integer:
    n, n_agree, and kappa as an exact fraction via cross-
    multiplication (operators/diagnostics.py::kappa_agreement —
    kappa = kappa_num/kappa_den, never materialized as a float).
    ONE scan + one |langs|-row hash agg with map-side partials; no
    joins, no window — the same 100 TB shape as t31's confusion
    audit."""
    from zappy_spark.operators.diagnostics import kappa_agreement

    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    f = t(spark, d, "documents").select(
        "lang", "n_chars", F.size(toks).alias("_nt")
    )
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
    g = f.select("lang", ca.alias("_a"), cb.alias("_b"))
    return kappa_agreement(g, "lang", "_a", "_b", 3).orderBy("lang")


def t34(spark: SparkSession, d: str) -> DataFrame:
    """PMI collocation mining (round 8;
    operators/text.py::pmi_collocations): top-50 adjacent word pairs
    by pointwise mutual information with n_ab ≥ 5 — the Church &
    Hanks association measure behind phrase mining and
    tokenizer-merge candidate lists. Output columns are exact
    BIGINTs only; PMI orders the rows as the raw integer ratio
    (ln is monotone), one deterministic IEEE division per row, ties
    on the bigram text. One shingle pass feeds both aggs; N is a
    1-row broadcast."""
    return text.pmi_collocations(
        t(spark, d, "documents"), "text", min_count=5, top_k=50
    )


def v26(spark: SparkSession, d: str) -> DataFrame:
    """Hard-negative mining for contrastive training (round 8): for
    each anchor in a FIXED 100-slot panel (vec_id < 500, step 5 —
    constant at any corpus size, the bound-the-instrument doctrine),
    the most-similar vector with a DIFFERENT label — the standard
    negative-sampling step for embedding/reranker training data.
    Output is id/label columns only (no float); the cosine ranks
    internally via the shared fold kernel both engines compute
    bit-identically (the v12/l08/d05 precedent). Spelled as ONE
    hash aggregate — max_by over a (cos, -vec_id) struct, so
    partial aggregation runs map-side and no window sorts the
    panel×corpus pairs; the panel broadcasts against a single
    corpus scan."""
    from zappy_spark.operators.vecmath import EMBED_DIM, dot, norm
    from zappy_spark.queries._util import spread

    emb = t(spark, d, "embeddings")
    q = emb.filter(
        (F.col("vec_id") < 500) & (F.col("vec_id") % 5 == 0)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
        norm("embedding").alias("_nq"),
    )
    # r12: d05 pair-loop shape — spread the streamed corpus scan,
    # per-row norms, opt-in unrolled dot in the agg key
    # (dot/(na·nq) is bit-identical to the cosine fold).
    pairs = (
        spread(emb)
        .select(
            "vec_id", "label", "embedding", norm("embedding").alias("_na")
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
    )
    key = F.struct(
        (
            dot("embedding", "qv", dim=EMBED_DIM)
            / (F.col("_na") * F.col("_nq"))
        ).alias("c"),
        (-F.col("vec_id")).alias("negid"),
    )
    best = pairs.groupBy("qid", "qlabel").agg(
        F.max_by(
            F.struct(
                F.col("vec_id").alias("v"), F.col("label").alias("l")
            ),
            key,
        ).alias("_b")
    )
    return best.select(
        "qid",
        "qlabel",
        F.col("_b.v").alias("hard_neg_id"),
        F.col("_b.l").alias("neg_label"),
    ).orderBy("qid")


def v25(spark: SparkSession, d: str) -> DataFrame:
    """Per-label centroid drift between two embedding snapshots
    (round 6): split the corpus into snapshot A (even vec_id) and B
    (odd), compute each label's centroid in both, and report the
    cosine between the paired centroids — the embedding-space twin
    of the d25 PSI feature-drift audit (a retrained encoder whose
    label centroids rotate is drifting even when scalar feature
    stats look stable).

    Scale shape (the v11 discipline): ONE posexplode into
    (label, parity, pos, x); centroids are a narrow hash agg over
    it; the cosine needs only (label, pos)-joined products
    re-aggregated per label — plan width constant in dim, no k×dim
    array driver-side."""
    x = t(spark, d, "embeddings").select(
        F.col("label").alias("g"),
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform("embedding", lambda v: v.cast("double"))
        ).alias("p", "x"),
    )
    c = x.groupBy("g", "half", "p").agg(F.avg("x").alias("m"))
    a = c.filter(F.col("half") == 0).select(
        "g", "p", F.col("m").alias("ma")
    )
    b = c.filter(F.col("half") == 1).select(
        "g", "p", F.col("m").alias("mb")
    )
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


def v28(spark: SparkSession, d: str) -> DataFrame:
    """Distributed quality-classifier TRAINING (round 10, VERDICT r9
    item 4; operators/training.py::logreg_train_fixed): 8 fixed
    gradient-descent iterations of a logistic model with the
    hard-sigmoid link, entirely in scale-1e6 fixed-point BIGINTs —
    the C4/CCNet-style learned quality filter trained IN the engine
    rather than scored with trained-elsewhere artifacts. Features
    are scan-side clipped integer counts ('the', 'data', length
    bucket); the label ('the' appears >= 2 times) is a linearly
    separable rule the trainer must re-learn. Output = one row per
    iteration (step, n, n_correct, w_bias, w_the, w_data, w_len),
    every cell an exact integer — no ROUND anywhere.

    Exactness: per-row quantities are exact BIGINTs (hard sigmoid =
    clamp + truncating div, no exp), so gradient sums are
    order-independent integer sums and the weight trajectory
    replays bit-for-bit in DuckDB (`div` == `//`, both truncate
    toward zero — verified on negatives).

    Scale: per iteration ONE map-side-combinable hash agg over a
    narrow integer scan; only 6 integers cross the shuffle; weights
    re-enter as literals (the v09-Lloyd's / t37-BPE precedent),
    lineage linear in the iteration count. The returned rows are the
    loop's own 1-row collects (collecting the result re-runs no
    step)."""
    from zappy_spark.operators.training import logreg_train_fixed

    return logreg_train_fixed(
        t(spark, d, "documents"), "text", n_iter=8, lr_den=2
    )


def v29(spark: SparkSession, d: str) -> DataFrame:
    """Quality-classifier FILTER pass (round 10;
    operators/training.py::logreg_score_ledger) — the step a
    production pipeline actually runs with v28's trained weights:
    fit the fixed-point model, then score every document scan-side
    (weights ride the scan as literals — no join) and emit the
    per-source keep/drop ledger (n_docs, n_keep, chars_total,
    chars_kept), the byte-accounting a data team reviews before
    writing the filtered corpus. All exact BIGINTs.

    Oracle: the shared v28 logistic-GD CTE prefix (bit-exact
    fixed-point replay) + ONE scoring pass at the final weights
    with the same hard-sigmoid threshold spelling.

    Scale: training is n_iter one-agg jobs; scoring is ONE more
    corpus scan into a |sources|-row map-side-combinable agg."""
    from zappy_spark.operators.training import logreg_score_ledger

    return logreg_score_ledger(
        t(spark, d, "documents"), "text", "source", "n_chars",
        n_iter=8, lr_den=2,
    ).orderBy("source")


def t44(spark: SparkSession, d: str) -> DataFrame:
    """Vocabulary-growth / Zipf-tail audit (round 10;
    operators/text.py::vocab_growth_stats): per source, exact
    n_tokens / n_types / hapax count / top-frequency — the
    empirical measurement behind the Heaps-law bound the
    vocabulary-collapsed operators (t37 merge loop, t43 encode,
    t34 PMI) lean on. Type/token ratio and hapax fraction are one
    division from the BIGINTs.

    Scale: ONE scan into the (source, word) hash agg — itself the
    Heaps-bounded shape, map-side combine collapsing each partition
    to its local vocab — then a |sources|-row rollup. No join."""
    from zappy_spark.operators.text import vocab_growth_stats

    return vocab_growth_stats(
        t(spark, d, "documents"), "text", "source"
    ).orderBy("source")


def v30(spark: SparkSession, d: str) -> DataFrame:
    """Held-out classifier evaluation (round 10;
    operators/training.py::logreg_holdout_eval) — the
    model-selection step between v28 (train) and v29 (deploy):
    md5-keyed 25% holdout (the house hex-prefix threshold, so the
    split is deterministic, engine-portable, append-stable), fit on
    the complement, then the per-source confusion counts on the
    holdout (n_eval, tp, fp, fn, tn) — precision/recall/accuracy
    are one division from the exact BIGINTs.

    Oracle: the shared logistic-GD CTE prefix with the training
    stages restricted to WHERE NOT ho — the holdout structurally
    cannot influence the weights — then one eval block over
    WHERE ho with the identical threshold spelling.

    Scale: split = scan-side md5 filter (no shuffle, composes with
    pushdown); training = n_iter one-agg jobs over the training
    partition; eval = ONE holdout scan into a |sources|-row agg."""
    from zappy_spark.operators.training import logreg_holdout_eval

    return logreg_holdout_eval(
        t(spark, d, "documents"), "text", "doc_id", "source",
        holdout_frac=0.25, n_iter=8, lr_den=2,
    ).orderBy("source")


def t45(spark: SparkSession, d: str) -> DataFrame:
    """Top-k vocabulary coverage curve (round 10;
    operators/text.py::vocab_coverage_curve): for k in
    {1,5,10,20,50}, how many corpus tokens the k most frequent
    types cover — the integer numerators of the coverage fractions
    a tokenizer-sizing decision plots, completing the
    tokenizer-economics family (t44 measures the vocabulary, t45
    measures what a budget of it buys). Ties rank to the smaller
    word, so the curve is deterministic in both engines.

    Scale: one corpus scan into the Heaps-bounded (word, count)
    agg; the rank window runs over the VOCAB (a single executor's
    work by design — ranking.py's range-bucketed ranker drops in if
    vocabulary ever outgrows that), then ONE conditional-sum agg."""
    from zappy_spark.operators.text import vocab_coverage_curve

    return vocab_coverage_curve(
        t(spark, d, "documents"), "text"
    ).orderBy("k")


def t43(spark: SparkSession, d: str) -> DataFrame:
    """Token-ID encoding (round 10, VERDICT r9 item 5;
    operators/text.py::encode_token_ids) — completes the tokenizer
    story: t37 trains the 6-merge schedule, t39 audits fertility,
    this emits the actual vocabulary ids a training pipeline
    materializes. Base chars [a-z0-9] get ids 0..35 in byte order,
    merge products 36..41 in merge order (first occurrence wins on
    collision — dict.setdefault in Spark, CASE order in SQL);
    out-of-scope words become ONE <unk> token (id -1), so the UNK
    histogram row IS the per-source OOV count. Output = per-source
    id histogram (source, token_id, token, n), exact BIGINTs;
    detokenize-identity is pinned as a property test (subwords
    concatenate back to the word by construction).

    Scale: after the vocab-bounded discovery jobs, ONE corpus scan
    — merges compile into the scan as literal replaces (t39), the
    id table rides as a 43-entry map literal (t41), and the only
    shuffle is the |sources| x |vocab| histogram agg."""
    from zappy_spark.operators.text import encode_token_ids

    return (
        encode_token_ids(
            t(spark, d, "documents"), "text", "source", n_merges=6
        )
        .orderBy("source", "token_id", "token")
    )


def t46(spark: SparkSession, d: str) -> DataFrame:
    """Cross-corpus perplexity filter (round 11, VERDICT r10 item 1;
    operators/text.py::xcorpus_perplexity_ledger) — the CCNet/KenLM
    setup: an add-one-smoothed bigram LM trained on the
    deterministic md5-keyed 25% reference slice (the d07/v30
    spelling) scores the REMAINING 75%, and the per-source
    keep/drop ledger (ppl cutoff 30.5, margin-calibrated this
    round) is what a data team reviews before writing the filtered
    corpus. Unlike t20/t23, the scored documents structurally
    cannot reach the model — the oracle's model CTEs read WHERE
    is_ref and the scoring CTE WHERE NOT is_ref inside the shared
    prefix, the same isolation v30 pins for the classifier.

    Output = (source, n_ref, n_eval, n_short, n_keep, n_drop), all
    exact BIGINTs; the only floats are one IEEE division of exact
    integers per bigram, one libm ln, and the per-doc average whose
    partial-order noise (~1e-13) sits >= 1.2e-5 from the cutoff at
    every verified SF/fixture (the margin pin).

    Scale: one corpus scan, gram-keyed count joins, |sources|-row
    ledger — see the operator docstring for the 100 TB shape."""
    from zappy_spark.operators.text import (
        T46_PARAMS,
        xcorpus_perplexity_ledger,
    )

    return xcorpus_perplexity_ledger(
        t(spark, d, "documents"), "text", "doc_id", "source",
        ref_frac=T46_PARAMS["ref_frac"],
        ppl_cutoff=T46_PARAMS["ppl_cutoff"],
    )


def t47(spark: SparkSession, d: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training (round
    11, VERDICT r10 item 2; operators/text.py::unigram_lm_train) —
    the OTHER mainstream tokenizer family beside BPE: substring
    seeding, then 3 hard-EM iterations of Viterbi segmentation
    (forward DP + longest-piece backtrace, pure column expressions)
    with scale-1e6 fixed-point integer costs, pruning unused
    multi-char candidates each M-step. The whole (step, piece,
    n_used, cost_next) trajectory is exact integer arithmetic —
    the oracle replays the DP with recursive CTEs and the M-step
    with the identical floor(x+0.5) half-up spelling.

    Scale: E-steps run over the Heaps-bounded DEDUPED vocabulary
    weighted by count (the t43 trick); each iteration is one
    map-side-combinable hash agg of <= n_pieces rows; driver state
    is the bounded piece table (v09/v28 doctrine), and the collected
    per-step usage rows ARE the result (collecting it re-runs no
    E-step)."""
    from zappy_spark.operators.text import unigram_lm_train

    return unigram_lm_train(
        t(spark, d, "documents"), "text",
        n_iter=3, max_piece_len=3, n_pieces=40,
    )


def t48(spark: SparkSession, d: str) -> DataFrame:
    """Absolute-discounting perplexity filter (round 11;
    operators/text.py::absdisc_perplexity_ledger) — the KenLM-style
    estimator beside t46's add-one baseline: interpolated absolute
    discounting (D=0.75) with add-one-unigram backoff, trained on
    the same deterministic md5-keyed 25% reference slice, per-source
    keep/drop ledger at ppl cutoff 28.5 (margin >= 4.6e-4 across
    all SFs/fixtures). Model CTEs read WHERE is_ref inside the
    shared oracle prefix — same structural isolation as t46/v30."""
    from zappy_spark.operators.text import (
        T48_PARAMS,
        absdisc_perplexity_ledger,
    )

    return absdisc_perplexity_ledger(
        t(spark, d, "documents"), "text", "doc_id", "source",
        ref_frac=T48_PARAMS["ref_frac"],
        ppl_cutoff=T48_PARAMS["ppl_cutoff"],
    )


def v31(spark: SparkSession, d: str) -> DataFrame:
    """Quality-filter agreement audit (round 11;
    operators/training.py::filter_agreement_ledger): the trained
    logistic classifier (v28, fixed-point BIGINT weights) and the
    cross-corpus perplexity LM (t46, add-one bigram on the md5
    reference slice) each verdict every scored document; output =
    the per-source 2x2 agreement grid over the documents both
    systems score — the review a team runs before switching filter
    families. Oracle = the shared logistic-GD CTE prefix + the
    SAME t46 chain (_t46_chain — one definition, zero drift) + one
    join of the two verdicts.

    Scale: training is K one-agg jobs; both verdict frames are
    narrow (id, verdict) projections equi-joined on the id; the
    ledger is one |sources|-row agg."""
    from zappy_spark.operators.text import T46_PARAMS
    from zappy_spark.operators.training import filter_agreement_ledger

    return filter_agreement_ledger(
        t(spark, d, "documents"), "text", "doc_id", "source",
        ref_frac=T46_PARAMS["ref_frac"],
        ppl_cutoff=T46_PARAMS["ppl_cutoff"],
    )


def m08(spark: SparkSession, d: str) -> DataFrame:
    """Mel-filterbank audio features as a driver row (round 12,
    VERDICT r11 item 5; operators/multimodal.py::mel_attest_features)
    — the audio analog of m06's ViT patches: an exactly-integer,
    exactly-bin-aligned two-tone signal rides the REAL wavlite
    encoder AND decoder, is framed at 160 samples, FFT'd to a power
    spectrum inside Arrow mapInPandas, and reduced with a 12-filter
    HTK mel bank. The oracle replays the pure-tone closed forms in
    SQL without touching bytes: Parseval pins specsum, single-bin
    energy pins peak_bin/peak_power, and the measured mel-geometry
    constants (filter 8, support 32–46, >=74% argmax margin) pin the
    filterbank. Bounded instrument: 100 ids at any corpus size."""
    from zappy_spark.operators import multimodal

    ids = t(spark, d, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    return (
        multimodal.mel_attest_features(ids, "doc_id")
        .orderBy("media_id")
    )


def m09(spark: SparkSession, d: str) -> DataFrame:
    """MFCC attestation (round 12;
    operators/multimodal.py::mfcc_attest_features) — the cepstral
    stage on top of m08's mel stack: the same exactly-bin-aligned
    two-tone panel rides real wavlite both ways → framed FFT power
    spectrum → HTK mel bank → log10(max(E,1)) → unnormalized DCT-II
    in Arrow mapInPandas. On this panel the mel energy lands ONLY
    in filters 8/9 (bin 80 is the bank's zero-weight edge), so
    every coefficient has the closed form c_j = S_j·log10(nf·A²) +
    D_j; the oracle replays it from spec-derived constants
    (_m09_dct_terms — filterbank + cos, never the pipeline under
    test). Margins MEASURED over the panel: pipeline vs closed form
    3.6e-15, floor boundaries >= 3.3e-9 c-units (~1e6x), argmax
    margin 3.39. Bounded 100-id instrument."""
    from zappy_spark.operators import multimodal

    ids = t(spark, d, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    return multimodal.mfcc_attest_features(ids, "doc_id").orderBy(
        "media_id"
    )


def t51(spark: SparkSession, d: str) -> DataFrame:
    """WordPiece segmentation audit (round 12;
    operators/text.py::wordpiece_segment_stats) — t50's APPLY half,
    completing the train→apply story for the third tokenizer family
    (BPE has t37→t39, unigram-LM has t47→usage ledger): train 6
    merges, then per source count the token economics under greedy
    longest-match-first inference (the HF WordpieceTokenizer rule),
    position classes enforced (an ##-lhs product only matches
    mid-word). The greedy walk is a bounded column-expression
    aggregate (no UDF); the oracle re-trains via the _wp_oracle
    chain and replays inference as a per-(word,pos) jump table +
    recursive walk. All outputs exact BIGINTs."""
    from zappy_spark.operators.text import wordpiece_segment_stats

    return wordpiece_segment_stats(
        t(spark, d, "documents"), "text", "source", 6
    ).orderBy("source")


def v33(spark: SparkSession, d: str) -> DataFrame:
    """Tokenizer bake-off ledger (round 12;
    operators/text.py::tokenizer_fertility_compare): BPE (t37) vs
    WordPiece (t50) trained on the SAME corpus with the SAME
    6-merge budget, each applied with its own inference rule, per
    source — the artifact that decides which subword family ships.
    The winner column is a pure function of two exact BIGINTs
    (no float enters the verdict). The oracle re-trains BOTH
    families inside one WITH RECURSIVE (the BPE chain unprefixed,
    byte-identical to t39's; the WordPiece chain namespaced wp_)
    and replays both inference rules — the full double-train
    bake-off, end to end."""
    from zappy_spark.operators.text import tokenizer_fertility_compare

    return tokenizer_fertility_compare(
        t(spark, d, "documents"), "text", "source", 6
    ).orderBy("source")


def t49(spark: SparkSession, d: str) -> DataFrame:
    """Interpolated Kneser–Ney perplexity filter (round 12, VERDICT
    r11 item 3; operators/text.py::kneser_ney_perplexity_ledger) —
    the production KenLM DEFAULT, the last rung of the perplexity
    ladder (t46 add-one → t48 absolute discounting → interpolated
    KN): t48's discounted bigram estimate with the backoff
    distribution switched from raw unigram frequency to CONTINUATION
    counts N1+(·w2) = COUNT(DISTINCT w1) per w2 — exact BIGINT, one
    more aggregate over the already-deduped model table. Same
    md5-keyed 25% reference slice, same structural WHERE-is_ref
    isolation inside the oracle, same all-BIGINT ledger. Cutoff 45.5
    chosen BY the round-12 gap scan over the merged ~416k-doc nll
    distribution of all 3 SFs + both synth fixtures (nearest doc
    >= 8.5e-3 from ln(cutoff) on every dataset, drops non-vacuous
    at sf0.01/sf0.1/10x/100x — the t46 precedent: pick the cutoff
    by the scan, don't hope; mid-range cutoffs were rejected with
    measured 100x margins of ~6.5e-6)."""
    from zappy_spark.operators.text import (
        T49_PARAMS,
        kneser_ney_perplexity_ledger,
    )

    return kneser_ney_perplexity_ledger(
        t(spark, d, "documents"), "text", "doc_id", "source",
        ref_frac=T49_PARAMS["ref_frac"],
        ppl_cutoff=T49_PARAMS["ppl_cutoff"],
    )


def v32(spark: SparkSession, d: str) -> DataFrame:
    """Three-filter agreement cube (round 12, VERDICT r11 item 6;
    operators/training.py::filter_agreement_cube): the v28 trained
    classifier, the t46 add-one LM, and the t49 interpolated-KN LM
    each verdict every LM-scored document; output = the per-source
    2x2x2 cube (cell order clf/lm/kn, k=keep d=drop) — the artifact
    that decides WHICH perplexity family drives mixture weights.
    Zero re-spelling: Spark side reuses the shared verdict/nll
    helpers, the oracle concatenates the logistic-GD prefix with
    the VERBATIM _t46_chain and _t49_chain."""
    from zappy_spark.operators.text import T46_PARAMS, T49_PARAMS
    from zappy_spark.operators.training import filter_agreement_cube

    return filter_agreement_cube(
        t(spark, d, "documents"), "text", "doc_id", "source",
        ref_frac=T46_PARAMS["ref_frac"],
        cutoff_lm=T46_PARAMS["ppl_cutoff"],
        cutoff_kn=T49_PARAMS["ppl_cutoff"],
    )


def d52(spark: SparkSession, d: str) -> DataFrame:
    """Content-defined chunking dedup ledger (round 12;
    operators/dedup.py::cdc_chunks + cdc_dedup_ledger — the
    rsync/LBFS cut rule behind storage dedup): a chunk ends after
    any 16-gram whose md5 8-char prefix ends in '0' (D=16, a pure
    string comparison both engines apply identically), boundaries
    move with CONTENT so an insertion re-aligns every later chunk —
    the shift-robust complement to d46's fixed-size blocks. Output:
    per-source (n_chunks, n_bytes, dup_chunks, dup_bytes), a chunk
    instance counting as duplicated when its hash occurs >1 time
    corpus-wide — all exact BIGINTs; non-vacuous at every SF (the
    planted replicas share nearly all chunks). Instrument bounded
    to ``doc_id < 20000`` (a no-op at all testdata SFs; bounds the
    gram explode at the synth fixtures — the d06/d37 doctrine).
    The oracle replays boundary detection, the lag-window span
    assembly, and the occurrence join bit-for-bit."""
    return dedup.cdc_dedup_ledger(
        t(spark, d, "documents").filter(F.col("doc_id") < 20000),
        "text",
        "doc_id",
        "source",
        k=16,
        mask="0",
    ).orderBy("source")


def d53(spark: SparkSession, d: str) -> DataFrame:
    """Homoglyph-skeleton dedup audit (round 12;
    operators/dedup.py::homoglyph_dedup_ledger — the UTS #39
    confusables idea at dedup scale): spam evades exact dedup by
    swapping Latin letters for Cyrillic/Greek lookalikes; folding
    confusables to their ASCII skeleton before hashing catches the
    spoofed twin. The ASCII test corpus has no confusables, so the
    spoofed population is PLANTED in the query (the d49/t12
    precedent): every doc_id % 7 == 3 document re-enters with
    Latin a/e/o swapped for Cyrillic а/е/о under a shifted id —
    not an exact duplicate (different bytes), exactly a skeleton
    duplicate. Ledger per source: n_docs, exact_dup_docs (the
    corpus's own planted replicas keep this branch non-vacuous),
    skeleton_dup_docs, hidden_dup_docs (the homoglyph catches).
    An EXACT byte-identical twin is planted too (doc_id % 11 == 5,
    id + 2e6) so every ledger column is exercised at every SF:
    exact dedup catches the verbatim twin, only the skeleton
    catches the homoglyph one, and hidden_dup_docs isolates the
    difference. One translate() + two hash aggs; both engines fold
    code points identically."""
    base = t(spark, d, "documents").filter(F.col("doc_id") < 20000)
    spoof = base.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.translate("text", "aeo", "аео").alias("text"),
        "source",
    )
    verbatim = base.filter(F.col("doc_id") % 11 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text", "source"
    )
    both = (
        base.select("doc_id", "text", "source")
        .unionByName(spoof)
        .unionByName(verbatim)
    )
    return dedup.homoglyph_dedup_ledger(
        both, "text", "doc_id", "source"
    ).orderBy("source")


def t50(spark: SparkSession, d: str) -> DataFrame:
    """WordPiece merge-loop tokenizer training (round 12;
    operators/text.py::wordpiece_train_merges) — the THIRD
    mainstream subword family, completing the triad: BPE (t37,
    most-frequent pair), unigram-LM (t47, likelihood pruning),
    WordPiece (the BERT trainer: merge the pair maximizing
    pair_n / (cnt_l * cnt_r), so rare-symbol pairs beat frequent-
    symbol pairs). The alphabet carries the REAL ## continuation
    marking (word-initial 'a' and mid-word '##a' are distinct
    symbols with distinct counts — marking changes dynamics, not
    rendering). The score is quantized 128-bit integer arithmetic
    on both engines — (pair_n * 10^12) div (cnt_l * cnt_r) via
    DECIMAL(19,0) products here, HUGEINT // in the oracle — floor
    of the same rational, bit-identical (the t47 fixed-point
    doctrine); ties break (pair_n DESC, lhs, rhs). The oracle
    replays the ENTIRE 6-step loop with the t37 unrolled-CTE
    pattern (materialized states, linear lineage). As in t37, the
    returned rows are the driver loop's 1-row collects."""
    from zappy_spark.operators.text import wordpiece_train_merges

    return wordpiece_train_merges(t(spark, d, "documents"), "text", 6)


def v34(spark: SparkSession, d: str) -> DataFrame:
    """Exact ROC-AUC holdout evaluation (round 12;
    operators/training.py::auc_rank_eval) — the threshold-free
    companion to v30's confusion counts: rank quality of the v28
    trained classifier on the md5-keyed 25% holdout, per source,
    via the Mann-Whitney pair formulation on the RAW fixed-point
    score z. Emits exact BIGINTs (n_pos, n_neg, concordant, tied,
    auc_num = 2*concordant + tied, auc_den = 2*n_pos*n_neg) — AUC
    and Gini are one division away, and a degenerate group surfaces
    as auc_den = 0 instead of a hidden NaN.

    Oracle: the shared logistic-GD CTE prefix (training stages
    WHERE NOT ho — the holdout structurally cannot reach the
    weights), then the identical (source, z) count table, the
    identical ROWS-frame cumulative-negatives window, and the same
    final pair-count aggregate. All-integer arithmetic end to end,
    so the replay is bit-exact, not approximately-equal.

    Scale: split = scan-side md5 filter; scoring = ONE holdout scan
    into a (source, z) agg bounded by the score range (dozens of
    rows — clipped integer features admit few sums); the window is
    group-partitioned over that tiny table. No doc-keyed join,
    nothing quadratic."""
    from zappy_spark.operators.training import auc_rank_eval

    return auc_rank_eval(
        t(spark, d, "documents"), "text", "doc_id", "source",
        holdout_frac=0.25, n_iter=8, lr_den=2,
    ).orderBy("source")



def m10(spark: SparkSession, d: str) -> DataFrame:
    """Delta/delta-delta cepstra attestation (round 12;
    operators/multimodal.py::delta_cepstra_attest_features) — the
    temporal-derivative stage completing the ASR frontend chain
    m05 (framing) → m08 (mel) → m09 (DCT): a rising-amplitude
    variant of the m09 panel (frame f scaled by a0 + 16f) rides
    real wavlite both ways → per-frame FFT power → HTK mel →
    log10 → DCT-II → HTK N=2 regression deltas with edge
    replication → the same regression for delta-delta, in Arrow
    mapInPandas. The D_j offsets cancel in every derivative, so
    the oracle replays d1 = S_1·g(t) in closed form from the
    spec-derived S_1 alone. Margins MEASURED: pipeline vs closed
    form 9.4e-16, floor boundaries >= 4.8e-11 c-units. Bounded
    100-id instrument."""
    from zappy_spark.operators import multimodal

    ids = t(spark, d, "documents").select("doc_id").filter(
        F.col("doc_id") < 100
    )
    return multimodal.delta_cepstra_attest_features(
        ids, "doc_id"
    ).orderBy("media_id")



def v35(spark: SparkSession, d: str) -> DataFrame:
    """Multinomial naive-Bayes holdout evaluation (round 12;
    operators/training.py::nb_holdout_eval) — the fastText-family
    lightweight text classifier beside v28's fixed-point logreg:
    trained on the SAME deterministic label, evaluated on the SAME
    md5-keyed 25% holdout, emitting the SAME confusion-count shape
    as v30 so the two model families compare row for row. Add-one
    smoothing over the training vocabulary; keep ⇔ log-odds > 0;
    a zero-token holdout doc still enters the ledger at s = prior.
    Emitted values are pure BIGINT counts; the cutoff-0 margin is
    MEASURED, not hoped: min |s| = 6.4e-3 / 1.5e-3 / 9.2e-5 /
    2.0e-5 at sf0.01 / sf0.1 / 10x / 100x — every one >= 7 orders
    above double noise.

    Scale: one training scan into the Heaps-bounded word-count agg
    (broadcast), 1-row prior/total aggs, one holdout scan into
    (doc, word) counts, and a narrow doc-keyed left join carrying
    counts only — never text."""
    from zappy_spark.operators.training import nb_holdout_eval

    return nb_holdout_eval(
        t(spark, d, "documents"), "text", "doc_id", "source",
        holdout_frac=0.25,
    ).orderBy("source")



def t52(spark: SparkSession, d: str) -> DataFrame:
    """TextRank keyword extraction (round 12;
    operators/text.py::textrank_keywords): weighted PageRank over
    the per-source word co-occurrence graph (adjacent lowercased
    [a-z0-9]+ tokens, undirected, weight = co-occurrence count),
    K=5 fixed-point BIGINT iterations (scale 1e9, damping 85/100,
    integer floors — bit-exact on any partitioning, the t47
    doctrine), then the top-5 words per source by (rank DESC,
    word). The graph-centrality keyword scorer beside the
    frequency-based t07 TF-IDF and t34 PMI. The oracle replays the
    ENTIRE trajectory with one unrolled CTE pair per iteration —
    nothing enters as a literal."""
    from zappy_spark.operators.text import textrank_keywords

    return textrank_keywords(
        t(spark, d, "documents"), "text", "source"
    ).orderBy("source", "rk")



def v36(spark: SparkSession, d: str) -> DataFrame:
    """Naive-Bayes K-fold cross-validation (round 12;
    operators/training.py::nb_crossval): md5-keyed hex quartiles,
    every document scored once by the model trained on its
    complement — and the K models are never trained K times:
    training counts aggregate ONCE per (fold, word, class) and
    each complement model derives by SUBTRACTION (total − fold),
    exactly equal to a train-on-complement run at 2 corpus scans
    total. Per-fold confusion counts (fold, n_eval, tp, fp, fn,
    tn) — the model-stability artifact the single-holdout v35
    cannot answer. Cutoff-0 margin measured ≥ 9.0e-6 through the
    100× fixture."""
    from zappy_spark.operators.training import nb_crossval

    return nb_crossval(
        t(spark, d, "documents"), "text", "doc_id", k=4
    ).orderBy("fold")



def m11(spark: SparkSession, d: str) -> DataFrame:
    """Shot-boundary detection (round 12;
    operators/multimodal.py::shot_boundary_ledger) — the
    scene-segmentation pass on the m03 video plumbing: document
    bytes stand in for clip payloads (32-byte frames), EVERY frame
    decodes through the real Arrow flatMap, and a boundary fires
    where the mean byte value jumps by > 8 between consecutive
    frames — compared integer CROSS-MULTIPLIED so short tail
    frames are exact and no float ever enters. Per media:
    (n_frames, n_boundaries, first_boundary_idx | -1), all exact
    BIGINTs. Instrument bounded to doc_id < 5000 (a no-op at all
    testdata SFs; bounds the frame fan-out at the synth fixtures —
    the d52 doctrine)."""
    from zappy_spark.operators import multimodal

    media = (
        t(spark, d, "documents")
        .filter(F.col("doc_id") < 5000)
        .select(
            F.col("doc_id").alias("media_id"),
            F.lit("video").alias("kind"),
            F.encode("text", "utf-8").alias("payload"),
        )
    )
    return multimodal.shot_boundary_ledger(
        media, tau=8, frame_bytes=32
    ).orderBy("media_id")



def v37(spark: SparkSession, d: str) -> DataFrame:
    """McNemar's paired test, NB vs logreg (round 12;
    operators/training.py::mcnemar_nb_vs_logreg): both families
    train on the SAME md5 complement and verdict the SAME holdout;
    per-source discordant-pair counts (nb_only, lr_only) and the
    exact-integer χ² spelling (chi2_num = (b−c)², chi2_den = b+c)
    — the statistical layer that says whether the v35-vs-v30
    bake-off difference is lopsided enough to matter. The only
    doc-keyed op is ONE narrow (id, verdict) equi-join; NB scoring
    reuses _nb_doc_scores, the logreg verdict reuses the shared
    _logreg_z/_hard_sigmoid helpers — zero re-spelling."""
    from zappy_spark.operators.training import mcnemar_nb_vs_logreg

    return mcnemar_nb_vs_logreg(
        t(spark, d, "documents"), "text", "doc_id", "source",
        holdout_frac=0.25, n_iter=8, lr_den=2,
    ).orderBy("source")



def v38(spark: SparkSession, d: str) -> DataFrame:
    """NB feature interpretability (round 12;
    operators/training.py::nb_top_features): the top-10 most
    discriminative vocabulary entries on each side of the trained
    filter, ranked by the smoothed class ratio (c1+1)/(c0+1) —
    monotone in the add-one log-odds, constants cancel — with a
    min-support floor of 5 so a hapax can't top the chart. The
    ratio is one IEEE double division of exact ints (bit-identical
    on both engines, word tiebreak); emitted columns are the exact
    BIGINT counts. Each side is one TakeOrderedAndProject over the
    Heaps-bounded model table; the rank window runs over the 20
    selected rows, partitioned by side."""
    from zappy_spark.operators.training import nb_top_features

    return nb_top_features(
        t(spark, d, "documents"), "text", "doc_id",
        holdout_frac=0.25, min_support=5, topk=10,
    ).orderBy("side", "rk")



def t53(spark: SparkSession, d: str) -> DataFrame:
    """Trigram interpolated Kneser–Ney perplexity filter (round
    12; operators/text.py::kn3_perplexity_ledger) — the order-3
    rung of the perplexity ladder (t46 add-one → t48 absolute
    discounting → t49 bigram KN → this): discounted RAW counts at
    the trigram top, CONTINUATION counts at the bigram level,
    t49's add-one continuation floor at the bottom — the full KN
    recursion production KenLM runs at order 4–5, first fully
    exercised at order 3. Same md5-keyed structural slice
    isolation, same all-BIGINT ledger; cutoff 39.048 chosen BY the
    round-12 gap scan over the merged ~416k-doc nll distribution
    (margin ≥ 4.3e-5 at all 3 SFs + both fixtures; keeps and
    drops both non-empty everywhere)."""
    from zappy_spark.operators.text import (
        T53_PARAMS,
        kn3_perplexity_ledger,
    )

    return kn3_perplexity_ledger(
        t(spark, d, "documents"), "text", "doc_id", "source",
        ref_frac=T53_PARAMS["ref_frac"],
        ppl_cutoff=T53_PARAMS["ppl_cutoff"],
    )



QUERIES = {
    "d01_exact_dedup_groups": d01,
    "d02_minhash_signature": d02,
    "d03_simhash": d03,
    "d04_ngram_jaccard": d04,
    "d05_embedding_neardup": d05,
    "d06_lsh_neardup_pipeline": d06,
    "d07_hash_sample": d07,
    "d08_stratified_sample": d08,
    "d09_dedup_keep_best": d09,
    "d10_decontaminate": d10,
    "d11_mixture_sample": d11,
    "d12_quantile_buckets": d12,
    "d13_containment_pairs": d13,
    "d14_containment_anchored": d14,
    "d15_weighted_sample": d15,
    "d16_semantic_dedup": d16,
    "d17_span_dedup": d17,
    "d18_fingerprint_dedup": d18,
    "d19_cc_closure": d19,
    "d20_incremental_dedup": d20,
    "d21_degree_dist": d21,
    "d22_e2e_corpus_prep": d22,
    "d23_train_val_test": d23,
    "d26_leakage_free_split": d26,
    "d27_shelf_packing": d27,
    "d29_temperature_mixture": d29,
    "d30_domain_cap": d30,
    "t22_winsorize": t22,
    "v19_knn_communities": v19,
    "v20_hits_authority": v20,
    "v21_bfs_hops": v21,
    "d32_dsir_importance": d32,
    "t23_bigram_nll": t23,
    "d33_fuzzy_blocked": d33,
    "v22_mmr_rerank": v22,
    "m03_frame_features": m03,
    "d34_token_budget": d34,
    "v23_sign_hamming": v23,
    "d35_bloom_gate": d35,
    "t25_cms_heavy_hitters": t25,
    "d36_source_overlap": d36,
    "d37_prefix_jaccard": d37,
    "t26_woe_iv": t26,
    "v24_retrieval_eval": v24,
    "t27_readability": t27,
    "t28_keywords": t28,
    "t29_ngram_novelty": t29,
    "d38_url_canonical": d38,
    "d39_oov_rate": d39,
    "d40_substring_dedup": d40,
    "d41_crosslingual_align": d41,
    "d42_contamination_direction": d42,
    "d43_rag_chunk_overlap": d43,
    "t30_freq_spectrum": t30,
    "d44_minhash_containment_est": d44,
    "t31_langid_confusion": t31,
    "m04_gif_attest": m04,
    "m05_wav_attest": m05,
    "m08_mel_attest": m08,
    "t35_kappa_agreement": t35,
    "d48_epoch_shuffle": d48,
    "t36_quantile_sketch_attest": t36,
    "t37_bpe_merges": t37,
    "t38_strip_markup": t38,
    "t39_bpe_segment": t39,
    "t40_sentence_stats": t40,
    "t41_stopword_coverage": t41,
    "d49_domain_suffix_audit": d49,
    "t42_unicode_normalize": t42,
    "m07_pnm_attest": m07,
    "d50_dedup_cluster_ledger": d50,
    "m06_patch_attest": m06,
    "v27_mmr_rerank": v27,
    "v28_logreg_train": v28,
    "t43_token_ids": t43,
    "v29_logreg_filter_ledger": v29,
    "t44_vocab_growth": t44,
    "v30_logreg_holdout_eval": v30,
    "v34_auc_rank_eval": v34,
    "v35_nb_holdout_eval": v35,
    "t52_textrank_keywords": t52,
    "v36_nb_crossval": v36,
    "v37_mcnemar_models": v37,
    "v38_nb_top_features": v38,
    "t45_vocab_coverage": t45,
    "t46_xcorpus_perplexity": t46,
    "t47_unigram_lm_tokenizer": t47,
    "t48_absdisc_perplexity": t48,
    "t49_kneser_ney_perplexity": t49,
    "t53_kn3_perplexity": t53,
    "v31_filter_agreement": v31,
    "v32_filter_agreement_cube": v32,
    "d51_winnow_neardup": d51,
    "t50_wordpiece_merges": t50,
    "d52_cdc_dedup": d52,
    "m09_mfcc_attest": m09,
    "m10_delta_cepstra": m10,
    "m11_shot_boundaries": m11,
    "t51_wordpiece_segment": t51,
    "v33_tokenizer_bakeoff": v33,
    "d53_homoglyph_dedup": d53,
    "d45_phash_neardup": d45,
    "t32_charset_audit": t32,
    "d46_block_dedup": d46,
    "t33_calibration_bins": t33,
    "t34_pmi_collocations": t34,
    "v26_hard_negatives": v26,
    "v25_centroid_drift": v25,
    "d31_rendezvous_shards": d31,
    "d24_decontaminate_frac": d24,
    "m01_binary_chunk_plan": m01,
    "m02_fake_decode_features": m02,
    "v18_matryoshka_topk": v18,
    "d28_triangle_count": d28,
    "d25_psi_drift": d25,
    "r78_scd2_history": r78,
    "r79_point_in_time": r79,
    "t21_mad_outliers": t21,
    "t01_token_counts": t01,
    "t02_quality_features": t02,
    "t03_fingerprint": t03,
    "t04_lang_id": t04,
    "t05_levenshtein": t05,
    "t06_content_split": t06,
    "t07_tfidf": t07,
    "t08_pii_redaction": t08,
    "t09_chunking": t09,
    "t10_normalize_text": t10,
    "t11_repetition": t11,
    "t12_domain_distribution": t12,
    "t13_boilerplate": t13,
    "t14_length_histogram": t14,
    "t15_corpus_vocab": t15,
    "t16_token_entropy": t16,
    "t17_lexical_diversity": t17,
    "t18_bm25": t18,
    "t19_gopher_rules": t19,
    "t20_unigram_ppl": t20,
    "v01_ivf_label_topk": v01,
    "v02_rp_lsh_ann": v02,
    "v03_l2_normalize": v03,
    "v04_quantize_int8": v04,
    "v05_covariance": v05,
    "v06_pca_scores": v06,
    "v07_hll_rollup": v07,
    "v08_knn_join": v08,
    "v09_ivf_kmeans": v09,
    "v10_standardize": v10,
    "v11_centroid_cohesion": v11,
    "v12_knn_classify": v12,
    "v13_pq_codes": v13,
    "v14_adc_scoring": v14,
    "v15_rank_normalize": v15,
    "v16_pagerank": v16,
    "v17_bitmap_distinct": v17,
}


def _simhash_oracle(bits: int = 16) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN substr(m,{b + 1},1)>='8' THEN 1 ELSE -1 END) v{b}"
        for b in range(bits)
    )
    concat = ", ".join(
        f"CASE WHEN v{b}>0 THEN '1' ELSE '0' END" for b in range(bits)
    )
    return (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) tk "
        "FROM documents), "
        "h AS (SELECT doc_id, md5(tk) m FROM tok WHERE tk<>''), "
        f"v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id) "
        f"SELECT doc_id, concat({concat}) sh FROM v ORDER BY doc_id LIMIT 100"
    )


def _lsh_pipeline_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB replica of near_dup_pairs(num_hashes=16, bands=4,
    threshold=0.5): same md5 hash family, same band keys.

    Instrument bounded to ``doc_id < 5000`` (a no-op at every
    testdata SF) — on the replica-dense 100x fixture this twin's
    banded self-join + list_intersect verify exceeded a 1800 s /
    60 GB budget (measured round 6) while the Spark side finished
    in ~450 s; d13/d14 doctrine applies."""
    rows = num_hashes // bands
    sig_cols = ", ".join(
        f"MIN(md5(concat('{i}|',g))) s{i}" for i in range(num_hashes)
    )
    band_exprs = ", ".join(
        "md5(concat('%d','|',%s))"
        % (b, ",'|',".join(f"s{b * rows + r}" for r in range(rows)))
        for b in range(bands)
    )
    return (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ws "
        "FROM documents WHERE doc_id < 5000), "
        "sh AS (SELECT doc_id, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2]) g "
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x), "
        f"sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id), "
        f"band AS (SELECT doc_id, unnest([{band_exprs}]) bucket FROM sig), "
        "cand AS (SELECT DISTINCT a.doc_id i, b.doc_id j FROM band a "
        "JOIN band b ON a.bucket=b.bucket AND a.doc_id<b.doc_id), "
        "grams AS (SELECT doc_id, list(g) gs FROM sh GROUP BY doc_id), "
        "pairs AS (SELECT i, j, "
        "len(list_intersect(list_distinct(ga.gs), list_distinct(gb.gs)))*1.0"
        "/len(list_distinct(list_concat(ga.gs, gb.gs))) jac "
        "FROM cand JOIN grams ga ON ga.doc_id=i JOIN grams gb ON gb.doc_id=j) "
        "SELECT i, j, ROUND(jac,6) jac FROM pairs WHERE jac>=0.5 ORDER BY i, j"
    )


def _anchored_containment_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    q: int = 4,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> str:
    """DuckDB replica of containment_pairs(..., anchors=q): banded
    candidates UNION bottom-q gram-hash anchor probes against the
    df-capped inverted index, then the exact containment verify.

    The instrument is bounded to ``doc_id < 5000`` — a no-op at
    every testdata SF (sf0.1 tops out at doc_id 4999) that fixes
    the instrument size on the replica-dense synth fixtures, where
    the TRUE pair count is ~1e8 (every doc has ~100 perturbed
    clones) and listing all pairs is not a collectable gate on one
    box (r26/v24 doctrine: bound the instrument, not the operator;
    measured round 6 — the anchor probe alone emitted 7.8e8
    candidate rows at the 100x fixture before the bound)."""
    rows = num_hashes // bands
    sig_cols = ", ".join(
        f"MIN(md5(concat('{i}|',g))) s{i}" for i in range(num_hashes)
    )
    band_exprs = ", ".join(
        "md5(concat('%d','|',%s))"
        % (b, ",'|',".join(f"s{b * rows + r}" for r in range(rows)))
        for b in range(bands)
    )
    return (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ws "
        "FROM documents WHERE doc_id < 5000), "
        "sh AS (SELECT doc_id, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2]) g "
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x), "
        f"sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id), "
        f"band AS (SELECT doc_id, unnest([{band_exprs}]) bucket FROM sig), "
        "bcand AS (SELECT DISTINCT least(a.doc_id,b.doc_id) i, "
        "greatest(a.doc_id,b.doc_id) j FROM band a "
        "JOIN band b ON a.bucket=b.bucket AND a.doc_id<b.doc_id), "
        "grams AS (SELECT doc_id, list_distinct(list(g)) gs FROM sh "
        "GROUP BY doc_id), "
        "anch AS (SELECT doc_id, unnest(list_sort(list_transform(gs, "
        f"g -> md5(g)))[1:{q}]) h FROM grams), "
        "idx0 AS (SELECT doc_id, md5(g2) h FROM "
        "(SELECT doc_id, unnest(gs) g2 FROM grams) z), "
        f"dfok AS (SELECT h FROM idx0 GROUP BY h HAVING count(*) <= {max_df}), "
        "idx AS (SELECT idx0.doc_id, idx0.h FROM idx0 JOIN dfok USING (h)), "
        "acand AS (SELECT DISTINCT least(a.doc_id,b.doc_id) i, "
        "greatest(a.doc_id,b.doc_id) j FROM anch a "
        "JOIN idx b ON a.h=b.h AND a.doc_id<>b.doc_id), "
        "cand AS (SELECT i, j FROM bcand UNION SELECT i, j FROM acand), "
        "pairs AS (SELECT i, j, "
        "len(list_intersect(ga.gs, gb.gs))*1.0"
        "/least(len(ga.gs), len(gb.gs)) cont "
        "FROM cand JOIN grams ga ON ga.doc_id=i JOIN grams gb ON gb.doc_id=j) "
        f"SELECT i, j, ROUND(cont,6) cont FROM pairs WHERE cont>={threshold} "
        "ORDER BY i, j"
    )


def _containment_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB replica of containment_pairs(num_hashes=16, bands=4,
    threshold=0.5): d06's pipeline with the containment verify
    |A∩B| / min(|A|,|B|) instead of Jaccard."""
    rows = num_hashes // bands
    sig_cols = ", ".join(
        f"MIN(md5(concat('{i}|',g))) s{i}" for i in range(num_hashes)
    )
    band_exprs = ", ".join(
        "md5(concat('%d','|',%s))"
        % (b, ",'|',".join(f"s{b * rows + r}" for r in range(rows)))
        for b in range(bands)
    )
    return (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ws "
        "FROM documents WHERE doc_id < 5000), "
        "sh AS (SELECT doc_id, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2]) g "
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x), "
        f"sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id), "
        f"band AS (SELECT doc_id, unnest([{band_exprs}]) bucket FROM sig), "
        "cand AS (SELECT DISTINCT a.doc_id i, b.doc_id j FROM band a "
        "JOIN band b ON a.bucket=b.bucket AND a.doc_id<b.doc_id), "
        "grams AS (SELECT doc_id, list(g) gs FROM sh GROUP BY doc_id), "
        "pairs AS (SELECT i, j, "
        "len(list_intersect(list_distinct(ga.gs), list_distinct(gb.gs)))*1.0"
        "/least(len(list_distinct(ga.gs)), len(list_distinct(gb.gs))) cont "
        "FROM cand JOIN grams ga ON ga.doc_id=i JOIN grams gb ON gb.doc_id=j) "
        "SELECT i, j, ROUND(cont,6) cont FROM pairs WHERE cont>=0.5 "
        "ORDER BY i, j"
    )


def _rp_lsh_oracle(
    num_planes: int = 4,
    seed: int = 42,
    dim: int = 64,
    radius: int = 2,
    k: int = 10,
) -> str:
    """DuckDB replica of v02 (rp_lsh_topk): the seeded hyperplanes
    ship as double literals (exact repr round-trip); bucket probing
    is the hamming-distance predicate; re-rank is exact cosine on
    the raw doubles with the same (sim DESC, vec_id) order."""
    from zappy_spark.operators.similarity import make_planes

    planes = make_planes(dim, num_planes, seed)

    def sig(col: str) -> str:
        bits = []
        for p in planes:
            arr = "[" + ",".join(repr(float(x)) for x in p) + "]"
            bits.append(
                f"CASE WHEN list_inner_product(CAST({col} AS DOUBLE[]), "
                f"{arr}) >= 0 THEN '1' ELSE '0' END"
            )
        return "concat(" + ",".join(bits) + ")"

    ham = "+".join(
        f"(substr(s.sig,{i + 1},1)<>substr(q.qsig,{i + 1},1))::INT"
        for i in range(num_planes)
    )
    return (
        f"WITH s AS (SELECT vec_id, embedding, {sig('embedding')} sig "
        "FROM embeddings), "
        "q AS (SELECT embedding qv, sig qsig FROM s WHERE vec_id=0), "
        "cand AS (SELECT s.vec_id, "
        "list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), "
        "CAST(q.qv AS DOUBLE[])) sim "
        f"FROM s, q WHERE s.vec_id<>0 AND ({ham}) <= {radius}) "
        f"SELECT vec_id, ROUND(sim,4) sim FROM "
        f"(SELECT * FROM cand ORDER BY sim DESC, vec_id LIMIT {k}) z "
        "ORDER BY sim DESC, vec_id"
    )


def _adc_oracle(limit: int = 20) -> str:
    """DuckDB replica of v14 (adc_scores): the same dd/codes CTEs as
    the PQ oracle, then the literal-LUT decode summed left-assoc."""
    import numpy as np

    from zappy_spark.operators.similarity import pq_codebook

    cb = pq_codebook()
    m, k, sub_dim = cb.shape
    q = np.round(np.random.default_rng(11).normal(0.0, 0.12, 64), 4)
    lut = np.round(
        np.array(
            [
                [
                    float(
                        (
                            (q[s * sub_dim:(s + 1) * sub_dim] - cb[s, c])
                            ** 2
                        ).sum()
                    )
                    for c in range(k)
                ]
                for s in range(m)
            ]
        ),
        6,
    )
    dist_cols, code_cols = [], []
    for s in range(m):
        for c in range(k):
            terms = " + ".join(
                f"(v[{s * sub_dim + i + 1}]-({cb[s, c, i]!r}))"
                f"*(v[{s * sub_dim + i + 1}]-({cb[s, c, i]!r}))"
                for i in range(sub_dim)
            )
            dist_cols.append(f"{terms} d{s}_{c}")
        whens = " ".join(
            "WHEN "
            + " AND ".join(f"d{s}_{c} <= d{s}_{o}" for o in range(c + 1, k))
            + f" THEN {c}"
            for c in range(k - 1)
        )
        code_cols.append(f"CASE {whens} ELSE {k - 1} END c{s}")
    decode = " + ".join(
        "(CASE c%d %s END)"
        % (
            s,
            " ".join(
                f"WHEN {c} THEN CAST({lut[s, c]!r} AS DOUBLE)"
                for c in range(k)
            ),
        )
        for s in range(m)
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v "
        "FROM embeddings), "
        f"dd AS (SELECT vec_id, {', '.join(dist_cols)} FROM e), "
        f"cc AS (SELECT vec_id, {', '.join(code_cols)} FROM dd) "
        f"SELECT vec_id, ROUND({decode}, 6) adist FROM cc "
        f"ORDER BY adist, vec_id LIMIT {limit}"
    )


def _t42_oracle() -> str:
    """t42's SQL twin, generated from the SAME constants the Spark
    operator uses (_UNI_FROM/_UNI_TO/_UNI_REPLACES + _T42_SUFFIX) —
    invisible characters can't drift between the two spellings."""
    from zappy_spark.operators.text import (
        _UNI_FROM,
        _UNI_REPLACES,
        _UNI_TO,
    )

    def q(x: str) -> str:
        return "'" + x.replace("'", "''") + "'"

    expr = f"translate(s, {q(_UNI_FROM)}, {q(_UNI_TO)})"
    for a, b in _UNI_REPLACES:
        expr = f"replace({expr}, {q(a)}, {q(b)})"
    return (
        "WITH p AS (SELECT doc_id, CASE WHEN doc_id % 3 = 2 THEN text "
        f"ELSE substr(text,1,40) || {q(_T42_SUFFIX)} END s "
        "FROM documents) "
        f"SELECT doc_id, {expr} clean FROM p ORDER BY doc_id LIMIT 120"
    )


def _t40_oracle() -> str:
    planted = (
        "CASE WHEN doc_id % 5 = 4 THEN "
        "'Only one sentence for doc ' || CAST(doc_id AS VARCHAR) || '.' "
        "ELSE substr(text,1,80) || '. ' || substr(text,81,60) || "
        "'! Is it ' || CAST(doc_id AS VARCHAR) || '? ' || "
        "CASE WHEN doc_id % 3 = 0 THEN 'No terminal tail' "
        "WHEN doc_id % 3 = 1 THEN 'Short tail.' ELSE '' END END"
    )
    return (
        f"WITH p AS (SELECT source, {planted} s FROM documents), "
        "c AS (SELECT source, "
        "len(regexp_extract_all(s, '[.!?]+')) ns, "
        "len(list_filter(string_split(s, ' '), x -> x <> '')) nw, "
        "CASE WHEN regexp_matches(s, '[.!?] *$') THEN 1 ELSE 0 END te "
        "FROM p) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) n_docs, "
        "CAST(SUM(ns) AS BIGINT) n_sentences, "
        "CAST(SUM(nw) AS BIGINT) n_words, "
        "CAST(SUM(CASE WHEN ns < 3 THEN 1 ELSE 0 END) AS BIGINT) "
        "n_lt3_sent, "
        "CAST(SUM(te) AS BIGINT) n_terminal_end "
        "FROM c GROUP BY 1 ORDER BY 1"
    )


def _t41_oracle() -> str:
    from zappy_spark.operators.text import STOPWORDS_LITE

    whens = " ".join(
        "WHEN '{}' THEN [{}]".format(
            lang, ", ".join(f"'{w}'" for w in STOPWORDS_LITE[lang])
        )
        for lang in sorted(STOPWORDS_LITE)
    )
    return (
        "WITH f AS (SELECT lang, "
        "list_filter(string_split(text,' '), x -> x <> '') tk "
        "FROM documents), "
        "c AS (SELECT lang, len(tk) t, len(list_filter(tk, "
        f"x -> list_contains(CASE lang {whens} "
        "ELSE CAST([] AS VARCHAR[]) END, x))) s FROM f) "
        "SELECT lang, CAST(COUNT(*) AS BIGINT) n_docs, "
        "CAST(SUM(t) AS BIGINT) n_tokens, "
        "CAST(SUM(s) AS BIGINT) n_stop_tokens, "
        "CAST(SUM(CASE WHEN s*100 < t*5 THEN 1 ELSE 0 END) AS BIGINT) "
        "n_low_coverage_docs "
        "FROM c GROUP BY 1 ORDER BY 1"
    )


def _regdom_sql(hexpr: str) -> str:
    """The registrable_domain CASE in DuckDB SQL, generated from the
    SAME suffix tuple (longest first; CASE's first-match-wins is the
    PSL stop rule — a bare suffix yields NULL via the inner CASE)."""
    from zappy_spark.operators.text import PUBLIC_SUFFIXES_LITE

    whens = []
    for s in PUBLIC_SUFFIXES_LITE:
        m = s.count(".") + 1
        whens.append(
            f"WHEN array_to_string(pp[-{m}:], '.') = '{s}' THEN "
            f"CASE WHEN len(pp) > {m} THEN pp[-{m + 1}] || '.{s}' END"
        )
    return (
        f"(SELECT CASE {' '.join(whens)} END "
        f"FROM (SELECT string_split({hexpr}, '.') pp))"
    )


def _d49_oracle() -> str:
    planted = (
        "substr(text,1,20) || ' http://a.s' || "
        "CAST(doc_id % 5 AS VARCHAR) || '.co.uk/x and https://cdn' || "
        "CAST(doc_id % 4 AS VARCHAR) || '.github.io/y plus "
        "https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com/z end'"
    )
    return (
        f"WITH p AS (SELECT {planted} s FROM documents), "
        "h AS (SELECT unnest(list_distinct(regexp_extract_all(s, "
        "'https?://([A-Za-z0-9.-]+)[^\\s]*', 1))) host FROM p), "
        f"r AS (SELECT {_regdom_sql('host')} reg FROM h) "
        "SELECT substr(reg, instr(reg, '.') + 1) suffix, "
        "CAST(COUNT(*) AS BIGINT) n_doc_mentions, "
        "CAST(COUNT(DISTINCT reg) AS BIGINT) n_sites "
        "FROM r GROUP BY 1 ORDER BY 1"
    )


def _strip_markup_sql(expr: str) -> str:
    """Wrap a SQL string expression in the exact strip_markup chain
    (operators/text.py) — same pattern order, same entity order, so
    the oracle replays the operator byte-for-byte."""
    out = expr
    for pat in (
        "(?is)<script[^>]*>.*?</script>",
        "(?is)<style[^>]*>.*?</style>",
        "(?s)<!--.*?-->",
        "<[^>]*>",
    ):
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&#34;", '"'),
        ("&apos;", "''"),
        ("&amp;", "&"),
    ):
        out = f"replace({out}, '{ent}', '{rep}')"
    return f"trim(regexp_replace({out}, '[ \\t\\r\\n]+', ' ', 'g'))"


def _t38_oracle() -> str:
    page0 = (
        "'<!DOCTYPE html><html><head><style type=\"text/css\">\n"
        "body {color: #fff}\n</style><script src=\"a.js\">\n"
        "var a = 1 < 2 && \"x\";\n</script></head><body>"
        "<h1 class=\"t\">' || substr(text,1,60) || "
        "'</h1><!-- hidden\ncomment --><p>doc &amp; ' || "
        "CAST(doc_id AS VARCHAR) || "
        "' &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>'"
    )
    page1 = (
        "'<div id=\"d' || CAST(doc_id AS VARCHAR) || '\"><p>' || "
        "substr(text,1,60) || '</p><br/></div>'"
    )
    page3 = (
        "'<UL><LI>' || substr(text,1,40) || "
        "'</LI><LI>item &amp; more</LI></UL>'"
    )
    return (
        "WITH p AS (SELECT doc_id, CASE doc_id % 4 "
        f"WHEN 0 THEN {page0} WHEN 1 THEN {page1} WHEN 2 THEN text "
        f"ELSE {page3} END s FROM documents) "
        f"SELECT doc_id, {_strip_markup_sql('s')} clean "
        "FROM p ORDER BY doc_id LIMIT 120"
    )


def _bpe_train_ctes(k: int) -> str:
    """The unrolled BPE training prefix shared by the t37/t39/t43
    oracles: WITH chain producing b1..b{k} (per-step winning pair +
    count) and s{k} (final vocab symbol strings).

    The s{i} states are MATERIALIZED (round 10): each s{i} is
    referenced TWICE (by a{i+1} and s{i+1}), and DuckDB inlines
    multi-referenced CTEs by default, so the plain spelling
    re-derives the whole chain 2^k times — measured 573 s for the
    b6 point alone at the 100x fixture, vs 4.1 s materialized,
    identical result. The hint gives the oracle the same LINEAR
    lineage the Spark side gets from merges-as-literals; semantics
    are untouched."""
    parts = [
        "WITH tok AS (SELECT unnest(list_filter(string_split(text,' '), "
        "x -> x<>'')) t FROM documents), "
        "v AS (SELECT lower(t) w, COUNT(*) f FROM tok "
        "WHERE regexp_matches(lower(t), '^[a-z0-9]+$') GROUP BY 1), "
        "s0 AS MATERIALIZED (SELECT w, f, "
        "regexp_replace(w, '(.)', '|\\1|', 'g') s FROM v)"
    ]
    for i in range(1, k + 1):
        parts.append(
            f", a{i} AS (SELECT w, f, list_filter(string_split(s,'|'), "
            f"x -> x<>'') arr FROM s{i - 1})"
            f", e{i} AS (SELECT w, f, generate_subscripts(arr,1) i, "
            f"unnest(arr) a FROM a{i})"
            f", b{i} AS (SELECT x.a l, y.a r, SUM(x.f) n "
            f"FROM e{i} x JOIN e{i} y ON x.w = y.w AND y.i = x.i + 1 "
            f"GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1)"
            f", s{i} AS MATERIALIZED (SELECT w, f, replace(s, "
            f"'|' || b.l || '||' || b.r || '|', "
            f"'|' || b.l || b.r || '|') s FROM s{i - 1}, b{i} b)"
        )
    return "".join(parts)


def _bpe_oracle(k: int = 6) -> str:
    """Unrolled fixed-iteration BPE replay (t37): the v09 Lloyd's
    CTE pattern without recursion — step k's stage recomputes pair
    counts from stage k−1's symbol strings, takes the identical
    (count DESC, lhs, rhs) argmax, and applies the merge with the
    same '|l||r|' → '|lr|' string replace the Spark operator uses
    (plain left-to-right replace = greedy BPE in both engines)."""
    unions = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) step, l lhs, r rhs, l || r merged, "
        f"CAST(n AS BIGINT) pair_n FROM b{i}"
        for i in range(1, k + 1)
    )
    return _bpe_train_ctes(k) + f" SELECT * FROM ({unions}) ORDER BY step"


def _m09_oracle() -> str:
    """Closed-form MFCC replay (m09): per id, t = log10(nf·A²) from
    the fabrication closed forms, then c_j = S_j·t + D_j with the
    spec-derived (j, S, D) literals (full-precision repr doubles —
    bit round-trip), the same floor(c·10^6 + 0.5) half-up
    quantization, and the (|c| DESC, j) argmax over j >= 1. The
    Spark numbers came through wav encode/decode, FFT, mel, log and
    DCT — equality attests the whole frontend."""
    from zappy_spark.operators.multimodal import _m09_dct_terms

    vals = ", ".join(
        f"({j}, {s!r}, {dd!r})" for j, s, dd in _m09_dct_terms()
    )
    return (
        "WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100), "
        "p AS (SELECT doc_id, CAST(1000 + 4*doc_id AS DOUBLE) a, "
        "CAST((800 + (doc_id % 7) * 160) // 160 AS DOUBLE) nf FROM ids), "
        "tt AS (SELECT doc_id, log10(nf * a * a) t FROM p), "
        f"cv AS (SELECT doc_id, v.j, v.s * t + v.d c FROM tt, "
        f"(VALUES {vals}) v(j, s, d)), "
        "agg AS (SELECT doc_id, MAX(CASE WHEN j = 0 THEN c END) c0, "
        "MAX(CASE WHEN j = 1 THEN c END) c1 FROM cv GROUP BY doc_id), "
        "best AS (SELECT doc_id, j, c FROM cv WHERE j >= 1 "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id "
        "ORDER BY ABS(c) DESC, j) = 1) "
        "SELECT a.doc_id media_id, CAST(12 AS BIGINT) n_mel, "
        "CAST(12 AS BIGINT) n_mfcc, "
        "CAST(FLOOR(a.c0 * 1000000 + 0.5) AS BIGINT) c0_fp, "
        "CAST(FLOOR(a.c1 * 1000000 + 0.5) AS BIGINT) c1_fp, "
        "CAST(b.j AS BIGINT) cmax_j, "
        "CAST(CASE WHEN b.c > 0 THEN 1 ELSE -1 END AS BIGINT) cmax_sign "
        "FROM agg a JOIN best b USING (doc_id) ORDER BY media_id"
    )



def _m10_oracle() -> str:
    """Closed-form delta-cepstra replay (m10): per id, the clamped
    log-amplitude T(u) = 2·log10(a0 + 16·clamp(u)), the HTK N=2
    regression g(t) over T, the same regression h(t) over clamped
    g for delta-delta, then d1 = S_1·g and dd1 = S_1·h with the
    spec-derived S_1 literal (full-precision repr double), and the
    identical floor(v·10^6 + 0.5) half-up quantization. The Spark
    numbers came through wav encode/decode, per-frame FFT, mel,
    log, DCT and two numpy regressions — equality attests the
    whole temporal-derivative frontend."""
    import math

    from zappy_spark.operators.multimodal import MFCC_N

    s1 = math.cos(math.pi * 8.5 / MFCC_N) + math.cos(
        math.pi * 9.5 / MFCC_N
    )

    def _T(u: str) -> str:
        return f"2*log10(a0 + 16*LEAST(GREATEST({u},0), nf-1))"

    def _g(t: str) -> str:
        return (
            f"(({_T(f'({t})+1')}) - ({_T(f'({t})-1')}) "
            f"+ 2*(({_T(f'({t})+2')}) - ({_T(f'({t})-2')})))/10"
        )

    def _cl(t: str) -> str:
        return f"LEAST(GREATEST({t},0), nf-1)"

    def _h(t: str) -> str:
        return (
            f"(({_g(_cl(f'({t})+1'))}) - ({_g(_cl(f'({t})-1'))}) "
            f"+ 2*(({_g(_cl(f'({t})+2'))}) - ({_g(_cl(f'({t})-2'))})))/10"
        )

    def _q(expr: str) -> str:
        return (
            f"CAST(FLOOR(({s1!r}) * ({expr}) * 1000000 + 0.5) "
            "AS BIGINT)"
        )

    return (
        "WITH p AS (SELECT doc_id, CAST(200 + doc_id AS DOUBLE) a0, "
        "5 + doc_id % 4 nf FROM documents WHERE doc_id < 100) "
        "SELECT doc_id media_id, CAST(nf AS BIGINT) n_frames, "
        f"{_q(_g('0'))} d1_first_fp, "
        f"{_q(_g('nf//2'))} d1_mid_fp, "
        f"{_q(_g('nf-1'))} d1_last_fp, "
        f"{_q(_h('nf//2'))} dd1_mid_fp "
        "FROM p ORDER BY media_id"
    )


def _wp_train_ctes(k: int, prefix: str = "") -> list[str]:
    """The unrolled WordPiece training chain as CTE fragments (no
    leading WITH): ``prefix`` namespaces every CTE so the chain can
    coexist with the BPE chain inside one oracle (v33). The default
    "" emits byte-identical SQL to the original t50 spelling."""
    q = prefix
    parts = [
        f"{q}tok AS (SELECT unnest(list_filter(string_split(text,' '), "
        "x -> x<>'')) t FROM documents), "
        f"{q}v AS (SELECT lower(t) w, COUNT(*) f FROM {q}tok "
        "WHERE regexp_matches(lower(t), '^[a-z0-9]+$') GROUP BY 1), "
        f"{q}s0 AS MATERIALIZED (SELECT w, f, "
        "'|' || substr(w, 1, 1) || '|' || "
        f"regexp_replace(substr(w, 2), '(.)', '|##\\1|', 'g') s FROM {q}v)"
    ]
    for i in range(1, k + 1):
        parts.append(
            f", {q}a{i} AS (SELECT w, f, list_filter(string_split(s,'|'), "
            f"x -> x<>'') arr FROM {q}s{i - 1})"
            f", {q}e{i} AS MATERIALIZED (SELECT w, f, "
            f"generate_subscripts(arr,1) i, unnest(arr) a FROM {q}a{i})"
            f", {q}c{i} AS (SELECT a sym, SUM(f) c FROM {q}e{i} GROUP BY 1)"
            f", {q}p{i} AS (SELECT x.a l, y.a r, SUM(x.f) n "
            f"FROM {q}e{i} x JOIN {q}e{i} y ON x.w = y.w AND y.i = x.i + 1 "
            f"GROUP BY 1, 2)"
            f", {q}b{i} AS (SELECT l, r, n, "
            f"CAST(CAST(n AS HUGEINT) * 1000000000000 // "
            f"(CAST(cl.c AS HUGEINT) * CAST(cr.c AS HUGEINT)) AS BIGINT) "
            f"sc FROM {q}p{i} JOIN {q}c{i} cl ON cl.sym = {q}p{i}.l "
            f"JOIN {q}c{i} cr ON cr.sym = {q}p{i}.r "
            f"ORDER BY sc DESC, n DESC, l, r LIMIT 1)"
            f", {q}s{i} AS MATERIALIZED (SELECT w, f, replace(s, "
            f"'|' || b.l || '||' || b.r || '|', "
            f"'|' || b.l || regexp_replace(b.r, '^##', '') || '|') s "
            f"FROM {q}s{i - 1}, {q}b{i} b)"
        )
    return parts


def _wp_oracle(k: int = 6) -> str:
    """Unrolled fixed-iteration WordPiece replay (t50): the t37
    pattern — step i recomputes pair counts AND per-symbol totals
    from state i−1, scores each pair with the identical 128-bit
    fixed-point (n * 10^12) // (cnt_l * cnt_r) (HUGEINT here,
    DECIMAL(19,0) div on the Spark side — floor of the same
    rational), takes the (score DESC, n DESC, l, r) argmax, and
    applies the merge with the ##-stripping replace. States are
    MATERIALIZED (each s{i} is referenced twice — the t37 2^k
    inlining lesson). The base state carries the BERT continuation
    marking: '|' || first char || '|##c2||##c3…'."""
    parts = ["WITH "] + _wp_train_ctes(k)
    unions = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) step, l lhs, r rhs, "
        f"l || regexp_replace(r, '^##', '') merged, "
        f"CAST(n AS BIGINT) pair_n, sc score_fp FROM b{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + f" SELECT * FROM ({unions}) ORDER BY step"


def _t51_oracle(k: int = 6) -> str:
    """WordPiece train→apply replay (t51): the _wp_oracle chain
    re-trains the schedule, then greedy longest-match-first
    inference replays as (1) a per-(word, pos) JUMP table — the
    longest matching merge-product content of the right position
    class, single chars falling back to 1 — and (2) a recursive
    walk advancing pos by the jump, counting steps; the walk's
    termination is structural (jump >= 1, the join dies past the
    word end). Degenerate-corpus guard: each step's content comes
    from a scalar subquery with a '~' fallback that can never match
    a ^[a-z0-9]+$ word (the t39 pattern). Position classes are
    real: class flag = 1 only when the winning lhs is unmarked."""
    content = "regexp_replace(l, '^##', '') || regexp_replace(r, '^##', '')"
    m_cols = ", ".join(
        f"COALESCE((SELECT {content} FROM b{i}), '~') c{i}, "
        f"COALESCE((SELECT CASE WHEN l LIKE '##%' THEN 0 ELSE 1 END "
        f"FROM b{i}), 0) i{i}"
        for i in range(1, k + 1)
    )
    arms = ", ".join(
        f"CASE WHEN (CASE WHEN i{i} = 1 THEN p.i = 1 ELSE p.i > 1 END) "
        f"AND substr(w, CAST(p.i AS INT), len(c{i})) = c{i} "
        f"THEN len(c{i}) ELSE 1 END"
        for i in range(1, k + 1)
    )
    chain = _wp_oracle(k)
    prefix = chain[: chain.index(" SELECT * FROM (")]
    return (
        "WITH RECURSIVE "
        + prefix[len("WITH ") :]
        + f", m AS (SELECT {m_cols})"
        ", tokx AS (SELECT source grp, lower(t) w FROM "
        "(SELECT source, unnest(list_filter(string_split(text,' '), "
        "x -> x<>'')) t FROM documents))"
        ", wrd AS (SELECT DISTINCT w FROM tokx "
        "WHERE regexp_matches(w, '^[a-z0-9]+$'))"
        ", jp AS (SELECT w, p.i pos, "
        f"GREATEST(1, {arms}) j "
        "FROM wrd, m, LATERAL (SELECT unnest(generate_series(1, "
        "len(w))) i) p)"
        ", wk AS (SELECT w, 1 pos, 0 np FROM wrd "
        "UNION ALL SELECT wk.w, wk.pos + jp.j, wk.np + 1 "
        "FROM wk JOIN jp ON jp.w = wk.w AND jp.pos = wk.pos)"
        ", done AS (SELECT w, MAX(np) np FROM wk GROUP BY w)"
        ", segd AS (SELECT grp, tokx.w, "
        "regexp_matches(tokx.w, '^[a-z0-9]+$') ins, done.np "
        "FROM tokx LEFT JOIN done ON done.w = tokx.w) "
        "SELECT grp source, "
        "CAST(SUM(CASE WHEN ins THEN 1 ELSE 0 END) AS BIGINT) n_words, "
        "CAST(SUM(CASE WHEN ins THEN len(w) ELSE 0 END) AS BIGINT) "
        "n_chars, "
        "CAST(SUM(CASE WHEN ins THEN np ELSE 0 END) AS BIGINT) n_pieces, "
        "CAST(SUM(CASE WHEN ins THEN 0 ELSE 1 END) AS BIGINT) "
        "n_oov_words "
        "FROM segd GROUP BY grp ORDER BY grp"
    )


def _t39_oracle(k: int = 6) -> str:
    """BPE application replay (t39): re-train the schedule with the
    t37 CTE prefix, then segment every in-scope corpus token with
    the same chained replaces and aggregate per source. Degenerate-
    corpus guard (round-10 ADVICE): a corpus yielding fewer than k
    trainable pairs leaves some b_i EMPTY, and a plain cross join
    of b1..b{k} would empty the whole oracle while the Spark
    operator (which breaks out of the merge loop early) still
    segments with the shorter schedule. Each merge column is
    therefore a scalar subquery with an identity fallback — the
    pair ('#','#'), whose wrapped form '|#||#|' can never occur in
    the ^[a-z0-9]+$ vocab, so the fallback replace is a no-op,
    exactly like the operator's absent merge."""
    merge_cols = ", ".join(
        f"COALESCE((SELECT l FROM b{i}), '#') l{i}, "
        f"COALESCE((SELECT r FROM b{i}), '#') r{i}"
        for i in range(1, k + 1)
    )
    seg = "regexp_replace(w, '(.)', '|\\1|', 'g')"
    for i in range(1, k + 1):
        seg = (
            f"replace({seg}, '|' || l{i} || '||' || r{i} || '|', "
            f"'|' || l{i} || r{i} || '|')"
        )
    return (
        _bpe_train_ctes(k)
        + f", m AS (SELECT {merge_cols})"
        ", tokx AS (SELECT source grp, lower(t) w FROM "
        "(SELECT source, unnest(list_filter(string_split(text,' '), "
        "x -> x<>'')) t FROM documents))"
        ", segd AS (SELECT grp, w, "
        "regexp_matches(w, '^[a-z0-9]+$') ins, "
        f"len(list_filter(string_split({seg}, '|'), x -> x<>'')) ns "
        "FROM tokx, m) "
        "SELECT grp source, "
        "CAST(SUM(CASE WHEN ins THEN 1 ELSE 0 END) AS BIGINT) n_words, "
        "CAST(SUM(CASE WHEN ins THEN len(w) ELSE 0 END) AS BIGINT) n_chars, "
        "CAST(SUM(CASE WHEN ins THEN ns ELSE 0 END) AS BIGINT) n_subwords, "
        "CAST(SUM(CASE WHEN ins THEN 0 ELSE 1 END) AS BIGINT) n_oov_words "
        "FROM segd GROUP BY 1 ORDER BY 1"
    )


def _v33_oracle(k: int = 6) -> str:
    """Tokenizer bake-off replay (v33): re-train BOTH merge
    families inside one WITH RECURSIVE — the t37 BPE chain
    (unprefixed, byte-identical to t39's) and the t50 WordPiece
    chain namespaced wp_ — then segment every in-scope token under
    both (BPE: t39's chained replaces; WordPiece: t51's jump table
    + recursive greedy walk) and compare per-source fertility. The
    winner column is a pure function of two exact BIGINTs, so the
    whole bake-off is integer-decided."""
    merge_cols = ", ".join(
        f"COALESCE((SELECT l FROM b{i}), '#') l{i}, "
        f"COALESCE((SELECT r FROM b{i}), '#') r{i}"
        for i in range(1, k + 1)
    )
    seg = "regexp_replace(w, '(.)', '|\\1|', 'g')"
    for i in range(1, k + 1):
        seg = (
            f"replace({seg}, '|' || l{i} || '||' || r{i} || '|', "
            f"'|' || l{i} || r{i} || '|')"
        )
    content = "regexp_replace(l, '^##', '') || regexp_replace(r, '^##', '')"
    wm_cols = ", ".join(
        f"COALESCE((SELECT {content} FROM wp_b{i}), '~') c{i}, "
        f"COALESCE((SELECT CASE WHEN l LIKE '##%' THEN 0 ELSE 1 END "
        f"FROM wp_b{i}), 0) i{i}"
        for i in range(1, k + 1)
    )
    arms = ", ".join(
        f"CASE WHEN (CASE WHEN i{i} = 1 THEN p.i = 1 ELSE p.i > 1 END) "
        f"AND substr(w, CAST(p.i AS INT), len(c{i})) = c{i} "
        f"THEN len(c{i}) ELSE 1 END"
        for i in range(1, k + 1)
    )
    bpe_chain = _bpe_train_ctes(k)[len("WITH ") :]
    wp_chain = "".join(_wp_train_ctes(k, "wp_"))
    return (
        "WITH RECURSIVE "
        + bpe_chain
        + ", "
        + wp_chain
        + f", m AS (SELECT {merge_cols})"
        + f", wm AS (SELECT {wm_cols})"
        ", tokx AS (SELECT source grp, lower(t) w FROM "
        "(SELECT source, unnest(list_filter(string_split(text,' '), "
        "x -> x<>'')) t FROM documents))"
        ", segd AS (SELECT grp, w, "
        "regexp_matches(w, '^[a-z0-9]+$') ins, "
        f"len(list_filter(string_split({seg}, '|'), x -> x<>'')) ns "
        "FROM tokx, m)"
        ", wrd AS (SELECT DISTINCT w FROM tokx "
        "WHERE regexp_matches(w, '^[a-z0-9]+$'))"
        ", jp AS (SELECT w, p.i pos, "
        f"GREATEST(1, {arms}) j "
        "FROM wrd, wm, LATERAL (SELECT unnest(generate_series(1, "
        "len(w))) i) p)"
        ", wk AS (SELECT w, 1 pos, 0 np FROM wrd "
        "UNION ALL SELECT wk.w, wk.pos + jp.j, wk.np + 1 "
        "FROM wk JOIN jp ON jp.w = wk.w AND jp.pos = wk.pos)"
        ", done AS (SELECT w, MAX(np) np FROM wk GROUP BY w)"
        ", ab AS (SELECT grp, "
        "CAST(SUM(CASE WHEN ins THEN 1 ELSE 0 END) AS BIGINT) n_words, "
        "CAST(SUM(CASE WHEN ins THEN len(w) ELSE 0 END) AS BIGINT) "
        "n_chars, "
        "CAST(SUM(CASE WHEN ins THEN ns ELSE 0 END) AS BIGINT) bsub "
        "FROM segd GROUP BY grp)"
        ", aw AS (SELECT grp, CAST(SUM(np) AS BIGINT) wpp FROM "
        "(SELECT tokx.grp, done.np FROM tokx "
        "JOIN done ON done.w = tokx.w) GROUP BY grp) "
        "SELECT ab.grp source, n_words, n_chars, "
        "bsub bpe_subwords, wpp wp_pieces, bsub - wpp delta, "
        "CASE WHEN wpp < bsub THEN 'wordpiece' "
        "WHEN wpp > bsub THEN 'bpe' ELSE 'tie' END winner "
        "FROM ab JOIN aw ON aw.grp = ab.grp ORDER BY source"
    )


def _t43_oracle(k: int = 6) -> str:
    """Token-ID encode replay (t43): re-train the schedule with the
    t37 CTE prefix, segment with the same chained replaces (t39's
    degenerate '#'-fallback guard included), then assign ids with
    the SAME precedence the Spark table uses — <unk> first, merge
    products in step order (CASE first-match == dict.setdefault),
    base [a-z0-9] by ascii arithmetic (a..z -> 0..25 via -97,
    0..9 -> 26..35 via -22).

    Spelling notes (measured at sf0.01): segmentation runs over the
    DEDUPED (group, word) vocabulary weighted by its count — a
    word's id sequence is a pure function of the word, so SUM(c)
    equals the per-occurrence count while the 6-replace chain runs
    Heaps-bounded times, not corpus-bounded (124 s → 35 s); the
    single-branch CASE-to-['<unk>'] list (the Spark side's one
    explode) avoids double-referencing the segmentation CTE, and
    m's columns are carried THROUGH the unnest so m is referenced
    exactly once (DuckDB inlines multi-referenced CTEs — each extra
    reference re-runs the whole training chain)."""
    merge_cols = ", ".join(
        f"COALESCE((SELECT l FROM b{i}), '#') l{i}, "
        f"COALESCE((SELECT r FROM b{i}), '#') r{i}"
        for i in range(1, k + 1)
    )
    seg = "regexp_replace(w, '(.)', '|\\1|', 'g')"
    for i in range(1, k + 1):
        seg = (
            f"replace({seg}, '|' || l{i} || '||' || r{i} || '|', "
            f"'|' || l{i} || r{i} || '|')"
        )
    lr = ", ".join(f"l{i}, r{i}" for i in range(1, k + 1))
    id_case = "CASE WHEN token = '<unk>' THEN -1 " + " ".join(
        f"WHEN token = l{i} || r{i} THEN {35 + i}"
        for i in range(1, k + 1)
    ) + (
        " WHEN ascii(token) BETWEEN 97 AND 122 THEN ascii(token) - 97"
        " ELSE ascii(token) - 22 END"
    )
    return (
        _bpe_train_ctes(k)
        + f", m AS (SELECT {merge_cols})"
        ", tokx AS (SELECT source grp, lower(t) w FROM "
        "(SELECT source, unnest(list_filter(string_split(text,' '), "
        "x -> x<>'')) t FROM documents))"
        ", vgrp AS (SELECT grp, w, COUNT(*) c FROM tokx GROUP BY 1, 2)"
        ", segd AS (SELECT grp, c, "
        "CASE WHEN regexp_matches(w, '^[a-z0-9]+$') "
        f"THEN list_filter(string_split({seg}, '|'), x -> x<>'') "
        f"ELSE ['<unk>'] END syms, {lr} FROM vgrp, m)"
        f", toks AS (SELECT grp, c, unnest(syms) token, {lr} FROM segd) "
        f"SELECT grp source, CAST({id_case} AS INT) token_id, token, "
        "CAST(SUM(c) AS BIGINT) n "
        "FROM toks GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    )


def _logreg_ctes(
    k: int,
    lr_den: int,
    extra: str = "",
    train_where: str = "",
    extra_fw: str | None = None,
) -> str:
    """The unrolled fixed-iteration logistic-GD prefix shared by the
    v28 and v29 oracles: feature CTE f (``extra`` prepends
    passthrough columns, e.g. 'source, n_chars,'), weight CTEs
    i0..i{k}, per-stage aggregate CTEs a1..a{k}. The v09-Lloyd's /
    t37-BPE pattern — stage k cross-joins the 1-row weight CTE
    i{k-1} into the feature scan, recomputes the hard-sigmoid
    residuals and integer gradient sums, and derives i{k} with the
    same truncating division (`//` == Spark `div`, both toward
    zero). All-integer arithmetic makes every stage
    order-independent, so the replay is bit-exact, not
    approximately-equal. f is MATERIALIZED: DuckDB inlines
    multi-referenced CTEs, and each of the k stages references f —
    the hint makes the oracle touch the corpus once per iteration
    like the Spark side (measured 2x at sf0.01). ``train_where``
    restricts the TRAINING stages' scan (e.g. 'WHERE NOT ho' for
    the v30 holdout split) without filtering f itself, so a later
    eval block can read the complement from the same CTE.
    ``extra_fw`` lets the first CTE compute EXPRESSIONS over the
    base table (e.g. the md5 split flag over doc_id) that ``extra``
    then carries as plain columns."""
    s = 1_000_000
    parts = [
        "WITH fw AS (SELECT "
        + (extra_fw if extra_fw is not None else extra)
        + "list_filter(string_split(text, ' '), "
        "x -> x <> '') ws FROM documents), "
        "f AS MATERIALIZED (SELECT "
        + extra
        + "CASE WHEN len(list_filter(ws, x -> x = 'the')) >= 2 "
        "THEN 1 ELSE 0 END y, "
        "LEAST(len(list_filter(ws, x -> x = 'the')), 3) x1, "
        "LEAST(len(list_filter(ws, x -> x = 'data')), 3) x2, "
        "LEAST(len(ws) // 16, 3) x3 FROM fw), "
        "i0 AS (SELECT CAST(0 AS BIGINT) w0, CAST(0 AS BIGINT) w1, "
        "CAST(0 AS BIGINT) w2, CAST(0 AS BIGINT) w3)"
    ]
    for i in range(1, k + 1):
        parts.append(
            f", p{i} AS (SELECT y, x1, x2, x3, "
            f"LEAST({s}, GREATEST(0, {s // 2} + "
            f"(w0 + w1 * x1 + w2 * x2 + w3 * x3) // 4)) p "
            f"FROM f, i{i - 1} {train_where})"
            f", a{i} AS (SELECT COUNT(*) n, "
            f"SUM(CASE WHEN (CASE WHEN 2 * p > {s} THEN 1 ELSE 0 END) = y "
            "THEN 1 ELSE 0 END) nc, "
            f"SUM(p - y * {s}) g0, SUM((p - y * {s}) * x1) g1, "
            f"SUM((p - y * {s}) * x2) g2, SUM((p - y * {s}) * x3) g3 "
            f"FROM p{i})"
            f", i{i} AS (SELECT "
            + ", ".join(
                f"CAST(w{j} - g{j} // ({lr_den} * GREATEST(n, 1)) "
                f"AS BIGINT) w{j}"
                for j in range(4)
            )
            + f" FROM a{i}, i{i - 1})"
        )
    return "".join(parts)


def _v28_oracle(k: int = 8, lr_den: int = 2) -> str:
    """Training-trajectory replay (v28): the shared logistic-GD CTE
    prefix, then one UNION ALL row per stage."""
    unions = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) step, CAST(n AS BIGINT) n, "
        f"CAST(nc AS BIGINT) n_correct, w0 w_bias, w1 w_the, "
        f"w2 w_data, w3 w_len FROM a{i}, i{i}"
        for i in range(1, k + 1)
    )
    return (
        _logreg_ctes(k, lr_den)
        + f" SELECT * FROM ({unions}) ORDER BY step"
    )


def _v29_oracle(k: int = 8, lr_den: int = 2) -> str:
    """Train-then-filter replay (v29): the shared logistic-GD CTE
    prefix with source/n_chars carried through the feature CTE,
    then ONE scoring pass at the final weights i{k} and the
    per-source keep/drop ledger — the same hard-sigmoid threshold
    spelling (2p > S) the Spark scan uses."""
    s = 1_000_000
    return (
        _logreg_ctes(k, lr_den, extra="source, n_chars, ")
        + ", sc AS (SELECT source, n_chars, "
        f"LEAST({s}, GREATEST(0, {s // 2} + "
        "(w0 + w1 * x1 + w2 * x2 + w3 * x3) // 4)) p "
        f"FROM f, i{k}) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) n_docs, "
        f"CAST(SUM(CASE WHEN 2 * p > {s} THEN 1 ELSE 0 END) AS BIGINT) "
        "n_keep, "
        "CAST(SUM(n_chars) AS BIGINT) chars_total, "
        f"CAST(SUM(CASE WHEN 2 * p > {s} THEN n_chars ELSE 0 END) "
        "AS BIGINT) chars_kept "
        "FROM sc GROUP BY 1 ORDER BY 1"
    )


def _v30_oracle(
    k: int = 8, lr_den: int = 2, frac: float = 0.25
) -> str:
    """Holdout-evaluation replay (v30): the shared logistic-GD CTE
    prefix with the training stages restricted to the md5-keyed
    training complement (WHERE NOT ho inside the prefix — the
    holdout structurally cannot reach the weights), then one eval
    block over the holdout at i{k} with the identical hard-sigmoid
    threshold and the identical hex-prefix split literal."""
    from zappy_spark.operators.sampling import sample_threshold

    s = 1_000_000
    thr = sample_threshold(frac)
    ho = (
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') ho, "
    )
    return (
        _logreg_ctes(
            k, lr_den, extra="source, ho, ",
            train_where="WHERE NOT ho",
            extra_fw="source, " + ho,
        )
        + ", ev AS (SELECT source, y, "
        f"LEAST({s}, GREATEST(0, {s // 2} + "
        f"(w0 + w1 * x1 + w2 * x2 + w3 * x3) // 4)) p "
        f"FROM f, i{k} WHERE ho) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) n_eval, "
        f"CAST(SUM(CASE WHEN 2 * p > {s} AND y = 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) tp, "
        f"CAST(SUM(CASE WHEN 2 * p > {s} AND y = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) fp, "
        f"CAST(SUM(CASE WHEN 2 * p <= {s} AND y = 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) fn, "
        f"CAST(SUM(CASE WHEN 2 * p <= {s} AND y = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) tn "
        "FROM ev GROUP BY 1 ORDER BY 1"
    )



def _v34_oracle(
    k: int = 8, lr_den: int = 2, frac: float = 0.25
) -> str:
    """ROC-AUC replay (v34): the v30 prefix (training stages WHERE
    NOT ho), then the raw-z holdout scores grouped per (source, z),
    a cumulative strictly-below-negatives window (ROWS frame over
    rows distinct in z == the Spark spelling), and the exact
    Mann-Whitney pair counts. All BIGINT — no ROUND cells."""
    from zappy_spark.operators.sampling import sample_threshold

    thr = sample_threshold(frac)
    ho = (
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') ho, "
    )
    return (
        _logreg_ctes(
            k, lr_den, extra="source, ho, ",
            train_where="WHERE NOT ho",
            extra_fw="source, " + ho,
        )
        + f", ev AS (SELECT source, y, "
        f"(w0 + w1 * x1 + w2 * x2 + w3 * x3) z "
        f"FROM f, i{k} WHERE ho), "
        "gz AS (SELECT source, z, "
        "SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) n1, "
        "SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) n0 "
        "FROM ev GROUP BY 1, 2), "
        "cz AS (SELECT source, n1, n0, "
        "COALESCE(SUM(n0) OVER (PARTITION BY source ORDER BY z "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) c0 "
        "FROM gz) "
        "SELECT source, CAST(SUM(n1) AS BIGINT) n_pos, "
        "CAST(SUM(n0) AS BIGINT) n_neg, "
        "CAST(SUM(n1 * c0) AS BIGINT) concordant, "
        "CAST(SUM(n1 * n0) AS BIGINT) tied, "
        "CAST(2 * SUM(n1 * c0) + SUM(n1 * n0) AS BIGINT) auc_num, "
        "CAST(2 * SUM(n1) * SUM(n0) AS BIGINT) auc_den "
        "FROM cz GROUP BY 1 ORDER BY 1"
    )




def _nb_lab_cte(flag: str = "ho", frac: float = 0.25) -> str:
    """The shared NB labeling CTE (tokenize + md5 split flag +
    deterministic label) — ONE definition for the v35/v37/v38
    oracles (the _t46_chain doctrine; the flag name is
    parameterized because v37 embeds this beside the logistic-GD
    prefix whose own CTEs already use `ho`)."""
    from zappy_spark.operators.sampling import sample_threshold

    thr = sample_threshold(frac)
    return (
        "lab AS (SELECT doc_id, source, "
        "list_filter(string_split(text, ' '), x -> x <> '') ws, "
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') {flag}, "
        "CASE WHEN len(list_filter(string_split(text, ' '), "
        "x -> x = 'the')) >= 2 THEN 1 ELSE 0 END y FROM documents)"
    )


def _nb_model_ctes(flag: str = "ho", wc: str = "wc") -> str:
    """The shared NB training-count CTEs over the NOT-{flag}
    complement: priors + per-word class counts + totals. The
    word-count CTE name is parameterized (v37 uses `wcn` beside
    the logistic prefix)."""
    return (
        f"tr AS (SELECT * FROM lab WHERE NOT {flag}), "
        "pri AS (SELECT SUM(y) n1, SUM(1 - y) n0 FROM tr), "
        "tw AS (SELECT unnest(ws) w, y FROM tr), "
        f"{wc} AS (SELECT w, SUM(y) c1, SUM(1 - y) c0 FROM tw "
        "GROUP BY 1), "
        "tot AS (SELECT SUM(c1) t1, SUM(c0) t0, COUNT(*) v "
        f"FROM {wc})"
    )


def _nb_score_ctes(flag: str = "ho", wc: str = "wc") -> str:
    """The shared NB scoring CTEs: per-(holdout doc, word) counts,
    add-one log-odds term sums, LEFT-joined back onto the holdout
    doc list (zero-token docs score s = prior)."""
    return (
        "evc AS (SELECT doc_id, w, COUNT(*) c FROM "
        f"(SELECT doc_id, unnest(ws) w FROM lab WHERE {flag}) "
        "GROUP BY 1, 2), "
        "sums AS (SELECT doc_id, "
        "SUM(c * (ln(COALESCE(c1, 0) + 1.0) "
        "- ln(CAST(t1 + v AS DOUBLE)) "
        "- ln(COALESCE(c0, 0) + 1.0) "
        "+ ln(CAST(t0 + v AS DOUBLE)))) tsum "
        f"FROM evc LEFT JOIN {wc} USING (w), tot GROUP BY 1)"
    )


def _v35_oracle(frac: float = 0.25) -> str:
    """Naive-Bayes holdout replay (v35): the shared NB lab /
    model / scoring CTEs (one definition with v37/v38 — zero
    drift), then the per-source confusion agg."""
    return (
        "WITH "
        + _nb_lab_cte("ho", frac)
        + ", "
        + _nb_model_ctes("ho")
        + ", "
        + _nb_score_ctes("ho")
        + ", sc AS (SELECT l.source, l.y, "
        "ln(CAST(n1 AS DOUBLE) / n0) + COALESCE(tsum, 0) s "
        "FROM lab l LEFT JOIN sums USING (doc_id), pri WHERE l.ho) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) n_eval, "
        "CAST(SUM(CASE WHEN s > 0 AND y = 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) tp, "
        "CAST(SUM(CASE WHEN s > 0 AND y = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) fp, "
        "CAST(SUM(CASE WHEN s <= 0 AND y = 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) fn, "
        "CAST(SUM(CASE WHEN s <= 0 AND y = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) tn "
        "FROM sc GROUP BY 1 ORDER BY 1"
    )


def _t52_oracle() -> str:
    """TextRank replay (t52): identical token filter, identical
    symmetrized edge-count graph, r0 = S // n, then one
    (inflow, rank) CTE pair per iteration with the identical
    integer-floor update — the whole trajectory is BIGINT, so the
    replay is bit-exact; final top-k by (rank DESC, word)."""
    from zappy_spark.operators.text import T52_PARAMS

    S = T52_PARAMS["scale"]
    dn, dd = T52_PARAMS["damp_num"], T52_PARAMS["damp_den"]
    base = f"(({dd - dn} * ({S} // n)) // {dd})"
    parts = [
        "WITH tok AS (SELECT source g, "
        "list_filter(list_transform(string_split(text, ' '), "
        "x -> lower(x)), x -> regexp_matches(x, '^[a-z0-9]+$')) ws "
        "FROM documents), "
        "tk AS (SELECT g, ws FROM tok WHERE len(ws) >= 2), "
        "pr AS (SELECT g, ws[i] a, ws[i+1] b FROM "
        "(SELECT g, ws, unnest(generate_series(1, len(ws) - 1)) i "
        "FROM tk)), "
        "ed AS (SELECT g, a, b, CAST(COUNT(*) AS BIGINT) w FROM "
        "(SELECT g, a, b FROM pr "
        "UNION ALL SELECT g, b a, a b FROM pr) GROUP BY 1, 2, 3), "
        "st AS (SELECT g, a, CAST(SUM(w) AS BIGINT) str FROM ed "
        "GROUP BY 1, 2), "
        "nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) n FROM st "
        "GROUP BY 1), "
        f"r0 AS (SELECT st.g, st.a node, {S} // n r "
        "FROM st JOIN nn USING (g))"
    ]
    for k in range(1, T52_PARAMS["iters"] + 1):
        parts.append(
            f", i{k} AS (SELECT e.g, e.b node, "
            "SUM((r.r * e.w) // s.str) inflow "
            "FROM ed e JOIN st s ON s.g = e.g AND s.a = e.a "
            f"JOIN r{k - 1} r ON r.g = e.g AND r.node = e.a "
            "GROUP BY 1, 2)"
            f", r{k} AS (SELECT s.g, s.a node, "
            f"{base} + (({dn} * COALESCE(i.inflow, 0)) // {dd}) r "
            "FROM st s JOIN nn USING (g) "
            f"LEFT JOIN i{k} i ON i.g = s.g AND i.node = s.a)"
        )
    K, topk = T52_PARAMS["iters"], T52_PARAMS["topk"]
    parts.append(
        " SELECT g source, CAST(rk AS BIGINT) rk, node word, "
        "CAST(r AS BIGINT) rank_fp FROM "
        "(SELECT g, node, r, ROW_NUMBER() OVER (PARTITION BY g "
        f"ORDER BY r DESC, node) rk FROM r{K}) "
        f"WHERE rk <= {topk} ORDER BY source, rk"
    )
    return "".join(parts)



def _v36_oracle(k: int = 4) -> str:
    """Cross-validation replay (v36): identical md5 fold CASE,
    identical once-aggregated (fold, word, class) counts with the
    complement-by-subtraction derivation, identical add-one
    log-odds and zero-token accounting, then the per-fold
    confusion agg. Emitted cells are exact BIGINTs; the cutoff-0
    margin is measured in the operator docstring."""
    from zappy_spark.operators.sampling import sample_threshold

    key = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    case = "CASE " + " ".join(
        f"WHEN {key} < '{sample_threshold(f / k)}' THEN {f - 1}"
        for f in range(1, k)
    ) + f" ELSE {k - 1} END"
    return (
        "WITH lab AS (SELECT doc_id, "
        "list_filter(string_split(text, ' '), x -> x <> '') ws, "
        f"{case} fold, "
        "CASE WHEN len(list_filter(string_split(text, ' '), "
        "x -> x = 'the')) >= 2 THEN 1 ELSE 0 END y FROM documents), "
        "prif AS (SELECT fold, SUM(y) n1, SUM(1 - y) n0 FROM lab "
        "GROUP BY 1), "
        "prit AS (SELECT SUM(n1) n1t, SUM(n0) n0t FROM prif), "
        "twf AS (SELECT fold, unnest(ws) w, y FROM lab), "
        "wcf AS (SELECT fold, w, SUM(y) c1, SUM(1 - y) c0 FROM twf "
        "GROUP BY 1, 2), "
        "wct AS (SELECT w, SUM(c1) c1t, SUM(c0) c0t FROM wcf "
        "GROUP BY 1), "
        f"folds AS (SELECT unnest(generate_series(0, {k - 1})) fold), "
        "wfc AS (SELECT f.fold, t.w, "
        "t.c1t - COALESCE(c.c1, 0) c1c, "
        "t.c0t - COALESCE(c.c0, 0) c0c "
        "FROM wct t CROSS JOIN folds f "
        "LEFT JOIN wcf c ON c.fold = f.fold AND c.w = t.w), "
        "totf AS (SELECT fold, SUM(c1c) t1c, SUM(c0c) t0c, "
        "SUM(CASE WHEN c1c + c0c > 0 THEN 1 ELSE 0 END) vc "
        "FROM wfc GROUP BY 1), "
        "prc AS (SELECT p.fold, n1t - p.n1 n1c, n0t - p.n0 n0c "
        "FROM prif p, prit), "
        "evc AS (SELECT fold, doc_id, w, COUNT(*) c FROM "
        "(SELECT fold, doc_id, unnest(ws) w FROM lab) "
        "GROUP BY ALL), "
        "sums AS (SELECT e.fold, e.doc_id, "
        "SUM(c * (ln(COALESCE(m.c1c, 0) + 1.0) "
        "- ln(CAST(t.t1c + t.vc AS DOUBLE)) "
        "- ln(COALESCE(m.c0c, 0) + 1.0) "
        "+ ln(CAST(t.t0c + t.vc AS DOUBLE)))) tsum "
        "FROM evc e LEFT JOIN wfc m ON m.fold = e.fold AND m.w = e.w "
        "JOIN totf t ON t.fold = e.fold GROUP BY 1, 2), "
        "sc AS (SELECT l.fold, l.y, "
        "ln(CAST(p.n1c AS DOUBLE) / p.n0c) + COALESCE(s.tsum, 0) s "
        "FROM lab l LEFT JOIN sums s "
        "ON s.fold = l.fold AND s.doc_id = l.doc_id "
        "JOIN prc p ON p.fold = l.fold) "
        "SELECT CAST(fold AS BIGINT) fold, "
        "CAST(COUNT(*) AS BIGINT) n_eval, "
        "CAST(SUM(CASE WHEN s > 0 AND y = 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) tp, "
        "CAST(SUM(CASE WHEN s > 0 AND y = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) fp, "
        "CAST(SUM(CASE WHEN s <= 0 AND y = 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) fn, "
        "CAST(SUM(CASE WHEN s <= 0 AND y = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) tn "
        "FROM sc GROUP BY 1 ORDER BY 1"
    )



def _v37_oracle(
    k: int = 8, lr_den: int = 2, frac: float = 0.25
) -> str:
    """McNemar replay (v37): the logistic-GD prefix (training
    stages WHERE NOT ho, doc_id carried through f) + the shared NB
    chain (flag renamed nho, word counts wcn — the logistic prefix
    owns `ho`), one per-doc verdict join, and the per-source
    discordance agg with the integer-exact χ² spelling."""
    from zappy_spark.operators.sampling import sample_threshold

    s = 1_000_000
    thr = sample_threshold(frac)
    ho = (
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') ho, "
    )
    return (
        _logreg_ctes(
            k, lr_den, extra="doc_id, source, ho, ",
            train_where="WHERE NOT ho",
            extra_fw="doc_id, source, " + ho,
        )
        + f", lr AS (SELECT doc_id, y lry, CASE WHEN "
        f"2 * LEAST({s}, GREATEST(0, {s // 2} + "
        f"(w0 + w1 * x1 + w2 * x2 + w3 * x3) // 4)) > {s} "
        f"THEN 1 ELSE 0 END lrp FROM f, i{k} WHERE ho), "
        + _nb_lab_cte("nho", frac)
        + ", "
        + _nb_model_ctes("nho", "wcn")
        + ", "
        + _nb_score_ctes("nho", "wcn")
        + ", nb AS (SELECT l.doc_id, l.source, l.y, "
        "CASE WHEN ln(CAST(n1 AS DOUBLE) / n0) "
        "+ COALESCE(tsum, 0) > 0 THEN 1 ELSE 0 END nbp "
        "FROM lab l LEFT JOIN sums USING (doc_id), pri "
        "WHERE l.nho), "
        "j AS (SELECT n.source, "
        "CASE WHEN n.nbp = n.y THEN 1 ELSE 0 END nbr, "
        "CASE WHEN l.lrp = l.lry THEN 1 ELSE 0 END lrr "
        "FROM nb n JOIN lr l USING (doc_id)), "
        "ag AS (SELECT source, COUNT(*) n_eval, "
        "SUM(CASE WHEN nbr = 1 AND lrr = 1 THEN 1 ELSE 0 END) br, "
        "SUM(CASE WHEN nbr = 0 AND lrr = 0 THEN 1 ELSE 0 END) bw, "
        "SUM(CASE WHEN nbr = 1 AND lrr = 0 THEN 1 ELSE 0 END) b, "
        "SUM(CASE WHEN nbr = 0 AND lrr = 1 THEN 1 ELSE 0 END) c "
        "FROM j GROUP BY 1) "
        "SELECT source, CAST(n_eval AS BIGINT) n_eval, "
        "CAST(br AS BIGINT) both_right, CAST(bw AS BIGINT) "
        "both_wrong, CAST(b AS BIGINT) nb_only, "
        "CAST(c AS BIGINT) lr_only, "
        "CAST((b - c) * (b - c) AS BIGINT) chi2_num, "
        "CAST(b + c AS BIGINT) chi2_den "
        "FROM ag ORDER BY 1"
    )


def _v38_oracle(frac: float = 0.25) -> str:
    """Top-features replay (v38): the shared NB lab CTE + training
    counts with the min-support HAVING floor, identical
    (ratio, word) orderings via two LIMITed subqueries, and a
    side-partitioned row_number."""
    return (
        "WITH "
        + _nb_lab_cte("ho", frac)
        + ", tw AS (SELECT unnest(ws) w, y FROM lab WHERE NOT ho), "
        "wc AS (SELECT w, SUM(y) c1, SUM(1 - y) c0 FROM tw "
        "GROUP BY 1 HAVING SUM(y) + SUM(1 - y) >= 5), "
        "r AS (SELECT w, c1, c0, "
        "CAST(c1 + 1 AS DOUBLE) / CAST(c0 + 1 AS DOUBLE) rr "
        "FROM wc), "
        "keep AS (SELECT 'keep' side, w, c1, c0, rr FROM r "
        "ORDER BY rr DESC, w LIMIT 10), "
        "dropp AS (SELECT 'drop' side, w, c1, c0, rr FROM r "
        "ORDER BY rr ASC, w LIMIT 10), "
        "u AS (SELECT * FROM keep UNION ALL SELECT * FROM dropp) "
        "SELECT side, CAST(ROW_NUMBER() OVER (PARTITION BY side "
        "ORDER BY CASE WHEN side = 'keep' THEN -rr ELSE rr END, w) "
        "AS BIGINT) rk, w word, CAST(c1 AS BIGINT) c_keep, "
        "CAST(c0 AS BIGINT) c_drop "
        "FROM u ORDER BY side, rk"
    )


def _t53_oracle() -> str:
    """Trigram interpolated-KN replay (t53): identical trigram
    shingling, identical two-level KN recursion (raw counts at the
    top, continuation counts below, add-one continuation floor),
    identical probability spelling, then the per-source keep/drop
    ledger at the calibrated cutoff. Every model CTE reads WHERE
    is_ref — structural isolation."""
    import math

    from zappy_spark.operators.sampling import sample_threshold
    from zappy_spark.operators.text import T53_PARAMS

    thr = sample_threshold(T53_PARAMS["ref_frac"])
    cut = repr(math.log(T53_PARAMS["ppl_cutoff"]))
    D = repr(float(T53_PARAMS["discount"]))
    pc = "(COALESCE(u.cw, 0) + 1.0) / (t.bt + v.v)"
    p2 = (
        f"CASE WHEN x2.cb IS NULL THEN {pc} "
        f"ELSE (GREATEST(COALESCE(b.n1pb, 0) - {D}, 0) + "
        f"{D} * x2.n1p2 * ({pc})) / x2.cb END"
    )
    return (
        "WITH d AS (SELECT doc_id, source, "
        "list_filter(string_split(text, ' '), x -> x <> '') ws, "
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') is_ref FROM documents), "
        "n AS (SELECT doc_id, source, is_ref, ws, "
        "unnest(generate_series(1, len(ws) - 2)) i "
        "FROM d WHERE len(ws) >= 3), "
        "tg AS (SELECT doc_id, source, is_ref, ws[i] w1, "
        "ws[i+1] w2, ws[i+2] w3 FROM n), "
        "cnt AS (SELECT doc_id, source, is_ref, w1, w2, w3, "
        "COUNT(*) c FROM tg GROUP BY ALL), "
        "tri AS (SELECT w1, w2, w3, SUM(c) tc FROM cnt "
        "WHERE is_ref GROUP BY 1, 2, 3), "
        "ctx3 AS (SELECT w1, w2, SUM(tc) c3, COUNT(*) n1p3 "
        "FROM tri GROUP BY 1, 2), "
        "bgc AS (SELECT w2, w3, COUNT(*) n1pb FROM tri "
        "GROUP BY 1, 2), "
        "ctx2 AS (SELECT w2, SUM(n1pb) cb, COUNT(*) n1p2 "
        "FROM bgc GROUP BY 1), "
        "uc AS (SELECT w3, COUNT(*) cw FROM bgc GROUP BY 1), "
        "ut AS (SELECT COUNT(*) bt FROM bgc), "
        "vv AS (SELECT COUNT(DISTINCT w) v FROM "
        "(SELECT unnest(ws) w FROM d WHERE is_ref)), "
        "sc AS (SELECT c.doc_id, c.source, "
        "-SUM(c.c * ln("
        f"CASE WHEN x3.c3 IS NULL THEN {p2} "
        f"ELSE (GREATEST(COALESCE(tr.tc, 0) - {D}, 0) + "
        f"{D} * x3.n1p3 * ({p2})) / x3.c3 END"
        ")) / SUM(c.c) nll "
        "FROM cnt c "
        "LEFT JOIN tri tr ON tr.w1 = c.w1 AND tr.w2 = c.w2 "
        "AND tr.w3 = c.w3 "
        "LEFT JOIN ctx3 x3 ON x3.w1 = c.w1 AND x3.w2 = c.w2 "
        "LEFT JOIN bgc b ON b.w2 = c.w2 AND b.w3 = c.w3 "
        "LEFT JOIN ctx2 x2 ON x2.w2 = c.w2 "
        "LEFT JOIN uc u ON u.w3 = c.w3 "
        "CROSS JOIN ut t CROSS JOIN vv v "
        "WHERE NOT c.is_ref GROUP BY 1, 2), "
        "counts AS (SELECT source, "
        "SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) n_ref, "
        "SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) n_eval, "
        "SUM(CASE WHEN NOT is_ref AND len(ws) < 3 THEN 1 ELSE 0 END) "
        "n_short FROM d GROUP BY 1), "
        "scored AS (SELECT source, "
        f"SUM(CASE WHEN nll < {cut} THEN 1 ELSE 0 END) nk, "
        f"SUM(CASE WHEN nll >= {cut} THEN 1 ELSE 0 END) nd "
        "FROM sc GROUP BY 1) "
        "SELECT counts.source, CAST(n_ref AS BIGINT) n_ref, "
        "CAST(n_eval AS BIGINT) n_eval, "
        "CAST(n_short AS BIGINT) n_short, "
        "CAST(COALESCE(nk, 0) AS BIGINT) n_keep, "
        "CAST(COALESCE(nd, 0) AS BIGINT) n_drop "
        "FROM counts LEFT JOIN scored ON counts.source = scored.source "
        "ORDER BY counts.source"
    )


def _t45_oracle(ks: tuple = (1, 5, 10, 20, 50)) -> str:
    """Coverage-curve replay (t45): identical (count DESC, word)
    ranking and conditional sums; the k rows come from a VALUES
    list cross-joined to the 1-row aggregate."""
    covs = ", ".join(
        f"CAST(SUM(CASE WHEN r <= {k} THEN c ELSE 0 END) AS BIGINT) c{k}"
        for k in ks
    )
    case = "CASE k " + " ".join(
        f"WHEN {k} THEN c{k}" for k in ks
    ) + " END"
    vals = ", ".join(f"({k})" for k in ks)
    return (
        "WITH tok AS (SELECT lower(t) w FROM "
        "(SELECT unnest(list_filter(string_split(text, ' '), "
        "x -> x <> '')) t FROM documents)), "
        "v AS (SELECT w, COUNT(*) c FROM tok "
        "WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY 1), "
        "rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) r "
        "FROM v), "
        f"ag AS (SELECT CAST(SUM(c) AS BIGINT) total, {covs} FROM rk) "
        f"SELECT CAST(k AS INT) k, {case} covered_tokens, "
        "total total_tokens "
        f"FROM (VALUES {vals}) ks(k), ag ORDER BY k"
    )


def _t46_chain() -> str:
    """The t46 CTE chain (d → … → sc), WITHOUT the leading WITH —
    reused verbatim by the t46 oracle and the v31 agreement oracle
    (one definition, so the two cannot drift): tokenize + md5 ref
    flag, bigram counts, ref-only model/context/vocab, and the
    per-document add-one-smoothed NLL over the non-ref slice."""
    from zappy_spark.operators.sampling import sample_threshold
    from zappy_spark.operators.text import T46_PARAMS

    thr = sample_threshold(T46_PARAMS["ref_frac"])
    return (
        "d AS (SELECT doc_id, source, "
        "list_filter(string_split(text, ' '), x -> x <> '') tks, "
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') is_ref FROM documents), "
        "n AS (SELECT doc_id, source, is_ref, tks, "
        "unnest(generate_series(1, len(tks) - 1)) i "
        "FROM d WHERE len(tks) >= 2), "
        "bg AS (SELECT doc_id, source, is_ref, "
        "tks[i] || ' ' || tks[i+1] g FROM n), "
        "cnt AS (SELECT doc_id, source, is_ref, g, COUNT(*) c "
        "FROM bg GROUP BY ALL), "
        "model AS (SELECT g, SUM(c) bc FROM cnt WHERE is_ref "
        "GROUP BY 1), "
        "ctx AS (SELECT string_split(g, ' ')[1] w1, SUM(bc) cc "
        "FROM model GROUP BY 1), "
        "vv AS (SELECT COUNT(*) v FROM ctx), "
        "sc AS (SELECT doc_id, source, "
        "-SUM(c * ln((COALESCE(bc, 0) + 1.0) / (COALESCE(cc, 0) + v)))"
        " / SUM(c) nll "
        "FROM cnt LEFT JOIN model USING (g) "
        "LEFT JOIN ctx ON string_split(cnt.g, ' ')[1] = ctx.w1 "
        "CROSS JOIN vv WHERE NOT is_ref GROUP BY 1, 2)"
    )


def _t46_oracle() -> str:
    """Cross-corpus perplexity replay (t46): the model CTEs read
    WHERE is_ref and the scoring CTE WHERE NOT is_ref inside ONE
    shared prefix — the slice restriction is structural, so a
    scored document cannot leak into the model (the v30
    precedent). The ln(ppl_cutoff) comparison literal is the
    Python-repr double BOTH sides embed, so the keep rule compares
    against the identical IEEE value; the nearest document sits
    >= 1.2e-5 away (margin pin in tests/test_operators.py)."""
    import math

    from zappy_spark.operators.text import T46_PARAMS

    cut = repr(math.log(T46_PARAMS["ppl_cutoff"]))
    return (
        "WITH "
        + _t46_chain()
        + ", "
        "counts AS (SELECT source, "
        "SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) n_ref, "
        "SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) n_eval, "
        "SUM(CASE WHEN NOT is_ref AND len(tks) < 2 THEN 1 ELSE 0 END) "
        "n_short FROM d GROUP BY 1), "
        "scored AS (SELECT source, "
        f"SUM(CASE WHEN nll < {cut} THEN 1 ELSE 0 END) nk, "
        f"SUM(CASE WHEN nll >= {cut} THEN 1 ELSE 0 END) nd "
        "FROM sc GROUP BY 1) "
        "SELECT counts.source, CAST(n_ref AS BIGINT) n_ref, "
        "CAST(n_eval AS BIGINT) n_eval, "
        "CAST(n_short AS BIGINT) n_short, "
        "CAST(COALESCE(nk, 0) AS BIGINT) n_keep, "
        "CAST(COALESCE(nd, 0) AS BIGINT) n_drop "
        "FROM counts LEFT JOIN scored ON counts.source = scored.source "
        "ORDER BY counts.source"
    )


def _t47_oracle(
    n_iter: int = 3, max_piece_len: int = 3, n_pieces: int = 40
) -> str:
    """Unigram-LM training replay (t47): the Viterbi E-step as a
    pair of recursive CTEs per iteration — dp{k} builds the exact
    BIGINT best-cost array position by position (3 LEFT JOINs to
    the current cost table per step), bt{k} walks it back choosing
    the LONGEST piece whose integer equality holds (the pinned
    tie-break) — and the M-step as the identical half-up
    floor(-ln(n/total)*S + 0.5) spelling over the same integer
    counts, with unused single chars floored at 1 and unused
    multi-char candidates pruned (the SentencePiece base-char
    rule). Every iteration's cost table c{k} is derived inside the
    shared prefix, so the trajectory replays end-to-end — nothing
    enters as a literal."""
    assert max_piece_len == 3, "oracle spelled for max_piece_len=3"
    s = 1_000_000
    inf = 10**15
    big = 100 * inf
    parts = [
        "WITH RECURSIVE v AS MATERIALIZED (SELECT lower(t) w, COUNT(*) c FROM "
        "(SELECT unnest(list_filter(string_split(text, ' '), "
        "x -> x <> '')) t FROM documents) "
        "WHERE regexp_matches(lower(t), '^[a-z0-9]+$') GROUP BY 1), "
        "sd AS ("
        "SELECT substr(w, i, 1) p, c FROM (SELECT w, c, "
        "unnest(generate_series(1, length(w))) i FROM v) "
        "UNION ALL SELECT substr(w, i, 2), c FROM (SELECT w, c, "
        "unnest(generate_series(1, length(w) - 1)) i FROM v) "
        "UNION ALL SELECT substr(w, i, 3), c FROM (SELECT w, c, "
        "unnest(generate_series(1, length(w) - 2)) i FROM v)), "
        "sa AS (SELECT p, SUM(c) n FROM sd GROUP BY 1), "
        "ch AS (SELECT p, n FROM sa WHERE length(p) = 1), "
        "mu AS (SELECT p, n FROM (SELECT p, n, ROW_NUMBER() OVER "
        "(ORDER BY n DESC, p) rn FROM sa WHERE length(p) > 1), "
        "(SELECT COUNT(*) nc FROM ch) "
        f"WHERE rn <= GREATEST({n_pieces} - nc, 0)), "
        "a0 AS (SELECT p, n FROM ch UNION ALL SELECT p, n FROM mu), "
        "t0 AS (SELECT SUM(n) t FROM a0), "
        "c0 AS MATERIALIZED (SELECT p, CAST(FLOOR(-ln(n / t) * "
        f"{s} + 0.5) AS BIGINT) k FROM a0, t0)"
    ]
    for k in range(1, n_iter + 1):
        pc = f"c{k - 1}"
        parts.append(
            f", dp{k} AS ("
            "SELECT w, c, 0 AS pos, [CAST(0 AS BIGINT)] AS b FROM v "
            "UNION ALL SELECT w, c, pos + 1, list_append(b, LEAST("
            f"b[pos + 1] + COALESCE(p1.k, {inf}), "
            f"CASE WHEN pos >= 1 THEN b[pos] + COALESCE(p2.k, {inf}) "
            f"ELSE {big} END, "
            f"CASE WHEN pos >= 2 THEN b[pos - 1] + COALESCE(p3.k, {inf}) "
            f"ELSE {big} END)) "
            f"FROM dp{k} "
            f"LEFT JOIN {pc} p1 ON p1.p = substr(w, pos + 1, 1) "
            f"LEFT JOIN {pc} p2 ON p2.p = substr(w, pos, 2) "
            f"LEFT JOIN {pc} p3 ON p3.p = substr(w, pos - 1, 3) "
            "WHERE pos < length(w)), "
            f"df{k} AS MATERIALIZED (SELECT w, c, b FROM dp{k} "
            "WHERE pos = length(w)), "
            f"bt{k} AS ("
            "SELECT w, c, b, length(w) AS pos, "
            f"CAST([] AS VARCHAR[]) AS ps FROM df{k} "
            "UNION ALL SELECT w, c, b, pos - l, "
            "list_append(ps, substr(w, pos - l + 1, l)) "
            "FROM (SELECT w, c, b, pos, ps, CASE "
            "WHEN pos >= 3 AND b[pos + 1] = b[pos - 2] + "
            f"COALESCE(q3.k, {inf}) THEN 3 "
            "WHEN pos >= 2 AND b[pos + 1] = b[pos - 1] + "
            f"COALESCE(q2.k, {inf}) THEN 2 "
            "ELSE 1 END AS l "
            f"FROM bt{k} "
            f"LEFT JOIN {pc} q2 ON q2.p = substr(w, pos - 1, 2) "
            f"LEFT JOIN {pc} q3 ON q3.p = substr(w, pos - 2, 3) "
            "WHERE pos > 0)), "
            f"u{k} AS MATERIALIZED (SELECT piece, SUM(c) n FROM "
            f"(SELECT unnest(ps) piece, c FROM bt{k} WHERE pos = 0) "
            "GROUP BY 1), "
            f"a{k} AS (SELECT cp.p, CASE WHEN length(cp.p) = 1 "
            "THEN GREATEST(COALESCE(u.n, 0), 1) ELSE u.n END n "
            f"FROM {pc} cp LEFT JOIN u{k} u ON cp.p = u.piece "
            "WHERE length(cp.p) = 1 OR COALESCE(u.n, 0) > 0), "
            f"t{k} AS (SELECT SUM(n) t FROM a{k}), "
            f"c{k} AS MATERIALIZED (SELECT p, CAST(FLOOR(-ln(n / t) * "
            f"{s} + 0.5) AS BIGINT) k FROM a{k}, t{k})"
        )
    unions = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) step, u.piece, "
        f"CAST(u.n AS BIGINT) n_used, c{k}.k cost_next "
        f"FROM u{k} u JOIN c{k} ON c{k}.p = u.piece"
        for k in range(1, n_iter + 1)
    )
    parts.append(f" SELECT * FROM ({unions}) ORDER BY step, piece")
    return "".join(parts)


def _t48_oracle() -> str:
    """Absolute-discounting perplexity replay (t48): the t46 CTE
    prefix extended with continuation counts (n1p), the reference
    unigram table, and the interpolated-absolute-discount
    probability in the SAME operator order as the Spark expression;
    model/unigram CTEs read WHERE is_ref — structural isolation."""
    import math

    from zappy_spark.operators.sampling import sample_threshold
    from zappy_spark.operators.text import T48_PARAMS

    thr = sample_threshold(T48_PARAMS["ref_frac"])
    cut = repr(math.log(T48_PARAMS["ppl_cutoff"]))
    pu = "((COALESCE(uc, 0) + 1.0) / (totu + vu))"
    return (
        "WITH d AS (SELECT doc_id, source, "
        "list_filter(string_split(text, ' '), x -> x <> '') tks, "
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') is_ref FROM documents), "
        "n AS (SELECT doc_id, source, is_ref, tks, "
        "unnest(generate_series(1, len(tks) - 1)) i "
        "FROM d WHERE len(tks) >= 2), "
        "bg AS (SELECT doc_id, source, is_ref, "
        "tks[i] || ' ' || tks[i+1] g FROM n), "
        "cnt AS (SELECT doc_id, source, is_ref, g, COUNT(*) c "
        "FROM bg GROUP BY ALL), "
        "model AS (SELECT g, SUM(c) bc FROM cnt WHERE is_ref "
        "GROUP BY 1), "
        "ctx AS (SELECT string_split(g, ' ')[1] w1, SUM(bc) cc, "
        "COUNT(*) n1p FROM model GROUP BY 1), "
        "toks AS (SELECT unnest(tks) w FROM d WHERE is_ref), "
        "uni AS (SELECT w, COUNT(*) uc FROM toks GROUP BY 1), "
        "uv AS (SELECT COUNT(*) vu, SUM(uc) totu FROM uni), "
        "sc AS (SELECT doc_id, source, "
        "-SUM(c * ln(CASE WHEN cc IS NULL THEN "
        f"{pu} "
        "ELSE (GREATEST(COALESCE(bc, 0) - 0.75, 0.0) + "
        f"0.75 * n1p * {pu}) / cc END)) / SUM(c) nll "
        "FROM cnt LEFT JOIN model USING (g) "
        "LEFT JOIN ctx ON string_split(cnt.g, ' ')[1] = ctx.w1 "
        "LEFT JOIN uni ON string_split(cnt.g, ' ')[2] = uni.w "
        "CROSS JOIN uv WHERE NOT is_ref GROUP BY 1, 2), "
        "counts AS (SELECT source, "
        "SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) n_ref, "
        "SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) n_eval, "
        "SUM(CASE WHEN NOT is_ref AND len(tks) < 2 THEN 1 ELSE 0 END) "
        "n_short FROM d GROUP BY 1), "
        "scored AS (SELECT source, "
        f"SUM(CASE WHEN nll < {cut} THEN 1 ELSE 0 END) nk, "
        f"SUM(CASE WHEN nll >= {cut} THEN 1 ELSE 0 END) nd "
        "FROM sc GROUP BY 1) "
        "SELECT counts.source, CAST(n_ref AS BIGINT) n_ref, "
        "CAST(n_eval AS BIGINT) n_eval, "
        "CAST(n_short AS BIGINT) n_short, "
        "CAST(COALESCE(nk, 0) AS BIGINT) n_keep, "
        "CAST(COALESCE(nd, 0) AS BIGINT) n_drop "
        "FROM counts LEFT JOIN scored ON counts.source = scored.source "
        "ORDER BY counts.source"
    )


def _t49_chain() -> str:
    """The t49 CTE chain (d9 → … → sc9), WITHOUT the leading WITH —
    reused verbatim by the t49 oracle and the v32 agreement-cube
    oracle (one definition, zero drift; CTE names carry a 9 suffix
    so the chain composes with _t46_chain and the logistic-GD
    prefix in one statement): tokenize + md5 ref flag, bigram
    counts, the ref-only model with context totals/continuation
    funding N1+(w1·), the continuation counts N1+(·w2), the
    reference vocabulary, and the per-document interpolated-KN NLL
    over the non-ref slice in the SAME operator order as the Spark
    expression."""
    import math

    from zappy_spark.operators.sampling import sample_threshold
    from zappy_spark.operators.text import T49_PARAMS

    thr = sample_threshold(T49_PARAMS["ref_frac"])
    pc = "((COALESCE(cw2, 0) + 1.0) / (bt + vu))"
    return (
        "d9 AS (SELECT doc_id, source, "
        "list_filter(string_split(text, ' '), x -> x <> '') tks, "
        "(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) "
        f"< '{thr}') is_ref FROM documents), "
        "n9 AS (SELECT doc_id, source, is_ref, tks, "
        "unnest(generate_series(1, len(tks) - 1)) i "
        "FROM d9 WHERE len(tks) >= 2), "
        "bg9 AS (SELECT doc_id, source, is_ref, "
        "tks[i] || ' ' || tks[i+1] g FROM n9), "
        "cnt9 AS (SELECT doc_id, source, is_ref, g, COUNT(*) c "
        "FROM bg9 GROUP BY ALL), "
        "model9 AS (SELECT g, SUM(c) bc FROM cnt9 WHERE is_ref "
        "GROUP BY 1), "
        "ctx9 AS (SELECT string_split(g, ' ')[1] w1, SUM(bc) cc, "
        "COUNT(*) n1p FROM model9 GROUP BY 1), "
        "cont9 AS (SELECT string_split(g, ' ')[2] w2, COUNT(*) cw2 "
        "FROM model9 GROUP BY 1), "
        "toks9 AS (SELECT unnest(tks) w FROM d9 WHERE is_ref), "
        "uv9 AS (SELECT COUNT(DISTINCT w) vu FROM toks9), "
        "btc9 AS (SELECT COUNT(*) bt FROM model9), "
        "sc9 AS (SELECT doc_id, source, "
        "-SUM(c * ln(CASE WHEN cc IS NULL THEN "
        f"{pc} "
        "ELSE (GREATEST(COALESCE(bc, 0) - 0.75, 0.0) + "
        f"0.75 * n1p * {pc}) / cc END)) / SUM(c) nll "
        "FROM cnt9 LEFT JOIN model9 USING (g) "
        "LEFT JOIN ctx9 ON string_split(cnt9.g, ' ')[1] = ctx9.w1 "
        "LEFT JOIN cont9 ON string_split(cnt9.g, ' ')[2] = cont9.w2 "
        "CROSS JOIN uv9 CROSS JOIN btc9 "
        "WHERE NOT is_ref GROUP BY 1, 2)"
    )


def _t49_oracle() -> str:
    """Interpolated Kneser–Ney perplexity replay (t49): the shared
    _t49_chain (the same string the v32 cube oracle embeds) plus
    the per-source keep/drop ledger at the calibrated cutoff;
    every model CTE reads WHERE is_ref — structural isolation."""
    import math

    from zappy_spark.operators.text import T49_PARAMS

    cut = repr(math.log(T49_PARAMS["ppl_cutoff"]))
    return (
        "WITH "
        + _t49_chain()
        + ", counts AS (SELECT source, "
        "SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) n_ref, "
        "SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) n_eval, "
        "SUM(CASE WHEN NOT is_ref AND len(tks) < 2 THEN 1 ELSE 0 END) "
        "n_short FROM d9 GROUP BY 1), "
        "scored AS (SELECT source, "
        f"SUM(CASE WHEN nll < {cut} THEN 1 ELSE 0 END) nk, "
        f"SUM(CASE WHEN nll >= {cut} THEN 1 ELSE 0 END) nd "
        "FROM sc9 GROUP BY 1) "
        "SELECT counts.source, CAST(n_ref AS BIGINT) n_ref, "
        "CAST(n_eval AS BIGINT) n_eval, "
        "CAST(n_short AS BIGINT) n_short, "
        "CAST(COALESCE(nk, 0) AS BIGINT) n_keep, "
        "CAST(COALESCE(nd, 0) AS BIGINT) n_drop "
        "FROM counts LEFT JOIN scored ON counts.source = scored.source "
        "ORDER BY counts.source"
    )


def _v32_oracle(k: int = 8, lr_den: int = 2) -> str:
    """Three-filter agreement-cube replay (v32): the logistic-GD
    prefix + the VERBATIM _t46_chain + the VERBATIM _t49_chain
    (each one definition, shared with its own oracle — zero
    re-spelling), then the 2x2x2 cube over the two narrow verdict
    joins. Cell order (clf, lm46, kn49), k=keep, d=drop."""
    import math

    from zappy_spark.operators.text import T46_PARAMS, T49_PARAMS

    s = 1_000_000
    cut46 = repr(math.log(T46_PARAMS["ppl_cutoff"]))
    cut49 = repr(math.log(T49_PARAMS["ppl_cutoff"]))
    cells = []
    for name, c, l, kk in (
        ("n_kkk", 1, 1, 1),
        ("n_kkd", 1, 1, 0),
        ("n_kdk", 1, 0, 1),
        ("n_kdd", 1, 0, 0),
        ("n_dkk", 0, 1, 1),
        ("n_dkd", 0, 1, 0),
        ("n_ddk", 0, 0, 1),
        ("n_ddd", 0, 0, 0),
    ):
        cells.append(
            f"CAST(SUM(CASE WHEN kc = {c} AND kl = {l} AND kk = {kk} "
            f"THEN 1 ELSE 0 END) AS BIGINT) {name}"
        )
    return (
        _logreg_ctes(k, lr_den, extra="doc_id, source, ")
        + ", "
        + _t46_chain()
        + ", "
        + _t49_chain()
        + ", ev AS (SELECT doc_id, "
        f"CASE WHEN 2 * LEAST({s}, GREATEST(0, {s // 2} + "
        "(w0 + w1 * x1 + w2 * x2 + w3 * x3) // 4)) "
        f"> {s} THEN 1 ELSE 0 END kc "
        f"FROM f, i{k}), "
        f"lm AS (SELECT doc_id, source, CASE WHEN nll < {cut46} "
        "THEN 1 ELSE 0 END kl FROM sc), "
        f"knv AS (SELECT doc_id, CASE WHEN nll < {cut49} "
        "THEN 1 ELSE 0 END kk FROM sc9) "
        "SELECT lm.source, CAST(COUNT(*) AS BIGINT) n_scored, "
        + ", ".join(cells)
        + " FROM lm JOIN knv ON lm.doc_id = knv.doc_id "
        "JOIN ev ON lm.doc_id = ev.doc_id "
        "GROUP BY 1 ORDER BY 1"
    )


def _v31_oracle(k: int = 8, lr_den: int = 2) -> str:
    """Filter-agreement replay (v31): the logistic-GD prefix
    (weights derived in-CTE, the v28 spelling) concatenated with
    the VERBATIM t46 chain (_t46_chain — the same string the t46
    oracle embeds, so the two entries cannot drift), then one join
    of the classifier verdict (hard-sigmoid threshold at i{k}) with
    the LM verdict (nll < the shared ln-cutoff literal)."""
    import math

    from zappy_spark.operators.text import T46_PARAMS

    s = 1_000_000
    cut = repr(math.log(T46_PARAMS["ppl_cutoff"]))
    return (
        _logreg_ctes(k, lr_den, extra="doc_id, source, ")
        + ", "
        + _t46_chain()
        + ", ev AS (SELECT doc_id, "
        f"CASE WHEN 2 * LEAST({s}, GREATEST(0, {s // 2} + "
        "(w0 + w1 * x1 + w2 * x2 + w3 * x3) // 4)) "
        f"> {s} THEN 1 ELSE 0 END kc "
        f"FROM f, i{k}), "
        f"lm AS (SELECT doc_id, source, CASE WHEN nll < {cut} "
        "THEN 1 ELSE 0 END kl FROM sc) "
        "SELECT lm.source, CAST(COUNT(*) AS BIGINT) n_scored, "
        "CAST(SUM(CASE WHEN kl = 1 AND kc = 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) n_both_keep, "
        "CAST(SUM(CASE WHEN kl = 1 AND kc = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) n_lm_only, "
        "CAST(SUM(CASE WHEN kl = 0 AND kc = 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) n_clf_only, "
        "CAST(SUM(CASE WHEN kl = 0 AND kc = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) n_both_drop "
        "FROM lm JOIN ev ON lm.doc_id = ev.doc_id "
        "GROUP BY 1 ORDER BY 1"
    )


def _t44_oracle() -> str:
    """Vocabulary-growth / Zipf-tail replay (t44): the same
    (group, word) hash agg + rollup, in-scope = lowercased
    [a-z0-9]+ (the tokenizer family's pre-tokenization contract)."""
    return (
        "WITH tok AS (SELECT source grp, lower(t) w FROM "
        "(SELECT source, unnest(list_filter(string_split(text, ' '), "
        "x -> x <> '')) t FROM documents)), "
        "v AS (SELECT grp, w, COUNT(*) c FROM tok "
        "WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY 1, 2) "
        "SELECT grp source, CAST(SUM(c) AS BIGINT) n_tokens, "
        "CAST(COUNT(*) AS BIGINT) n_types, "
        "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) n_hapax, "
        "CAST(MAX(c) AS BIGINT) max_freq "
        "FROM v GROUP BY 1 ORDER BY 1"
    )


def _pq_oracle(limit: int = 200) -> str:
    """DuckDB replica of pq_codes(pq_codebook()): identical literal
    centroids, identical left-folded squared-distance accumulation
    (so the argmin CASE compares bit-identical doubles), identical
    ties-to-smaller-index CASE chain."""
    from zappy_spark.operators.similarity import pq_codebook

    cb = pq_codebook()
    m, k, sub_dim = cb.shape
    dist_cols, code_cols = [], []
    for s in range(m):
        for c in range(k):
            terms = " + ".join(
                f"(v[{s * sub_dim + i + 1}]-({cb[s, c, i]!r}))"
                f"*(v[{s * sub_dim + i + 1}]-({cb[s, c, i]!r}))"
                for i in range(sub_dim)
            )
            dist_cols.append(f"{terms} d{s}_{c}")
        whens = " ".join(
            "WHEN "
            + " AND ".join(
                f"d{s}_{c} <= d{s}_{o}" for o in range(c + 1, k)
            )
            + f" THEN {c}"
            for c in range(k - 1)
        )
        code_cols.append(f"CASE {whens} ELSE {k - 1} END c{s}")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v "
        "FROM embeddings), "
        f"dd AS (SELECT vec_id, {', '.join(dist_cols)} FROM e) "
        f"SELECT vec_id, {', '.join(code_cols)} FROM dd "
        f"ORDER BY vec_id LIMIT {limit}"
    )



def _langid_confusion_oracle() -> str:
    """t31: the t04 argmax replayed, grouped against ground truth."""
    arms = " UNION ALL ".join(
        "SELECT doc_id, '%s' lang_c, len(list_filter(tk, x -> x IN (%s)))"
        "*1.0/greatest(len(tk),1) score FROM tok"
        % (lang, ",".join(f"'{w}'" for w in words))
        for lang, words in text.LANG_PROFILES.items()
    )
    return (
        "WITH tok AS (SELECT doc_id, lang, "
        "list_filter(string_split(text,' '), x -> x<>'') tk "
        "FROM documents), "
        f"s AS ({arms}), "
        "best AS (SELECT doc_id, lang_c, score, row_number() OVER "
        "(PARTITION BY doc_id ORDER BY score DESC, lang_c) rn FROM s), "
        "p AS (SELECT doc_id, CASE WHEN score > 0 THEN lang_c "
        "ELSE 'und' END lang_pred FROM best WHERE rn = 1) "
        "SELECT t.lang, p.lang_pred, COUNT(*) n "
        "FROM p JOIN (SELECT DISTINCT doc_id, lang FROM documents) t "
        "USING (doc_id) "
        "GROUP BY 1,2 ORDER BY 1,2"
    )


def _lang_id_oracle() -> str:
    """DuckDB replica of text.lang_id: per-language stopword-hit
    ratio from the SAME ``LANG_PROFILES`` constants, argmax by
    (score DESC, lang ASC), 'und' when every profile scores 0."""
    arms = " UNION ALL ".join(
        "SELECT doc_id, '%s' lang, len(list_filter(tk, x -> x IN (%s)))*1.0"
        "/greatest(len(tk),1) score FROM tok"
        % (lang, ",".join(f"'{w}'" for w in words))
        for lang, words in text.LANG_PROFILES.items()
    )
    return (
        "WITH tok AS (SELECT doc_id, "
        "list_filter(string_split(text,' '), x -> x<>'') tk FROM documents), "
        f"s AS ({arms}), "
        "best AS (SELECT doc_id, lang, score, row_number() OVER "
        "(PARTITION BY doc_id ORDER BY score DESC, lang) rn FROM s) "
        "SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END "
        "lang_pred, ROUND(score,6) lang_conf "
        "FROM best WHERE rn=1 ORDER BY doc_id LIMIT 100"
    )


# Closed-form 2×2 symmetric eigensolution replaying pca_fit's sign
# convention (max-|coord| positive, first index on ties) — the v06
# oracle. Assumes c12 != 0 (holds for real-valued embeddings).
_PCA2_ORACLE = (
    "WITH base AS (SELECT vec_id, embedding[1]::DOUBLE x1, "
    "embedding[2]::DOUBLE x2 FROM embeddings), "
    "st AS (SELECT avg(x1) m1, avg(x2) m2, covar_samp(x1,x1) c11, "
    "covar_samp(x1,x2) c12, covar_samp(x2,x2) c22 FROM base), "
    "eig AS (SELECT *, (c11+c22)/2 + sqrt(((c11-c22)/2)*((c11-c22)/2)"
    " + c12*c12) l1, (c11+c22)/2 - sqrt(((c11-c22)/2)*((c11-c22)/2)"
    " + c12*c12) l2 FROM st), "
    "raw AS (SELECT m1, m2, "
    "c12/sqrt(c12*c12 + (l1-c11)*(l1-c11)) a1, "
    "(l1-c11)/sqrt(c12*c12 + (l1-c11)*(l1-c11)) b1, "
    "c12/sqrt(c12*c12 + (l2-c11)*(l2-c11)) a2, "
    "(l2-c11)/sqrt(c12*c12 + (l2-c11)*(l2-c11)) b2 FROM eig), "
    "v AS (SELECT m1, m2, "
    "CASE WHEN (CASE WHEN abs(a1)>=abs(b1) THEN a1 ELSE b1 END) < 0 "
    "THEN -a1 ELSE a1 END v11, "
    "CASE WHEN (CASE WHEN abs(a1)>=abs(b1) THEN a1 ELSE b1 END) < 0 "
    "THEN -b1 ELSE b1 END v12, "
    "CASE WHEN (CASE WHEN abs(a2)>=abs(b2) THEN a2 ELSE b2 END) < 0 "
    "THEN -a2 ELSE a2 END v21, "
    "CASE WHEN (CASE WHEN abs(a2)>=abs(b2) THEN a2 ELSE b2 END) < 0 "
    "THEN -b2 ELSE b2 END v22 FROM raw) "
    "SELECT vec_id, ROUND((x1-m1)*v11 + (x2-m2)*v12, 3) + 0.0 p0, "
    "ROUND((x1-m1)*v21 + (x2-m2)*v22, 3) + 0.0 p1 "
    "FROM base, v ORDER BY vec_id LIMIT 100"
)


_SHINGLE_CTE = (
    "WITH t AS (SELECT doc_id, string_split(text,' ') ws FROM documents), "
    "sh AS (SELECT doc_id, concat(ws[CAST(i AS INT)],' ',ws[CAST(i AS INT)+1],"
    "' ',ws[CAST(i AS INT)+2]) g "
    "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) i "
    "FROM t WHERE len(ws)>=3) x) "
)

ORACLE = {
    # t27: syllable/sentence runs as length deltas of global ('g')
    # regexp_replace; all per-doc inputs are exact integers so the
    # Flesch arithmetic is IEEE-identical cross-engine.
    "t27_readability": (
        "WITH d AS (SELECT doc_id, text FROM documents "
        "WHERE doc_id < 100), "
        "s AS (SELECT doc_id, "
        "len(list_filter(string_split(text,' '), x -> x<>'')) words, "
        "length(regexp_replace(text,'[aeiou]+','~','g')) - "
        "length(regexp_replace(text,'[aeiou]+','','g')) syl, "
        "GREATEST(1, length(regexp_replace(text,'[.!?]+','~','g')) - "
        "length(regexp_replace(text,'[.!?]+','','g'))) sents FROM d) "
        "SELECT doc_id, CAST(words AS BIGINT) n_words, "
        "CAST(syl AS BIGINT) n_syllables, "
        "CAST(ROUND(CAST(206.835 - 1.015*(words*1.0/sents) "
        "- 84.6*(syl*1.0/words) AS DECIMAL(18,10)), 4) AS DOUBLE) flesch "
        "FROM s ORDER BY doc_id"
    ),
    # t28: the t07 idf spelling + a per-doc ROW_NUMBER keyword pick
    # on the rounded score (term tie-break, rank-deterministic).
    "t28_keywords": (
        "WITH toks AS (SELECT doc_id, "
        "unnest(list_filter(string_split(text,' '), x -> x<>'')) term "
        "FROM documents), "
        "tf AS (SELECT doc_id, term, COUNT(*) tf FROM toks GROUP BY 1,2), "
        "dfq AS (SELECT term, COUNT(*) df FROM tf GROUP BY 1), "
        "n AS (SELECT COUNT(*) _n FROM documents), "
        "sc AS (SELECT doc_id, term, "
        "ROUND(tf * (LN((_n+1.0)/(df+1.0)) + 1.0), 6) ti "
        "FROM tf JOIN dfq USING (term), n), "
        "rk AS (SELECT doc_id, term, ti, ROW_NUMBER() OVER "
        "(PARTITION BY doc_id ORDER BY ti DESC, term) kw_rank FROM sc) "
        "SELECT doc_id, CAST(kw_rank AS BIGINT) kw_rank, term, ti "
        "FROM rk WHERE kw_rank <= 2 AND doc_id < 30 "
        "ORDER BY doc_id, kw_rank"
    ),
    # t29: the d13 shingle CTE (no token filter — word_shingles
    # parity), DISTINCT per doc; first-doc via MIN; exact-integer
    # counts and one exact division (the d39 discipline).
    "t29_ngram_novelty": (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ws "
        "FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2]) g "
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x), "
        "pd AS (SELECT doc_id, COUNT(*) ng FROM sh GROUP BY 1), "
        "fv AS (SELECT MIN(doc_id) doc_id FROM sh GROUP BY g), "
        "nv AS (SELECT doc_id, COUNT(*) nv FROM fv GROUP BY 1), "
        "j AS (SELECT d2.source, pd.ng, COALESCE(nv.nv, 0) nv "
        "FROM pd LEFT JOIN nv USING (doc_id) "
        "JOIN documents d2 USING (doc_id)) "
        "SELECT source, CAST(SUM(ng) AS BIGINT) n_grams, "
        "CAST(SUM(nv) AS BIGINT) n_novel, "
        "ROUND(SUM(nv)*1.0/SUM(ng), 6) novelty_rate "
        "FROM j GROUP BY source ORDER BY source"
    ),
    # d38: the canonicalization replayed with RE2-safe spellings
    # (capture-group trailing-slash trim, no lookbehind; '\\1' is
    # DuckDB's backref syntax where Spark uses '$1').
    "d38_url_canonical": (
        "WITH u AS ("
        "SELECT 'HTTPS://S'||(doc_id%5)||'.Example.ORG/Page/'"
        "||(doc_id%40)||'?utm='||doc_id url, doc_id uid "
        "FROM documents "
        "UNION ALL "
        "SELECT 'https://s'||(doc_id%5)||'.example.org/Page/'"
        "||(doc_id%40)||'/', doc_id FROM documents), "
        "stripped AS (SELECT regexp_replace(url,'[?#].*$','') su, uid "
        "FROM u), "
        "c AS (SELECT regexp_replace("
        "lower(regexp_extract(su, '(?i)^(https?://[^/]*)', 1)) || "
        "regexp_replace(su, '(?i)^https?://[^/]*', ''), "
        "'(.)/$', '\\1') canon_url, uid FROM stripped) "
        "SELECT canon_url, COUNT(*) n, MIN(uid) keep_id FROM c "
        "GROUP BY 1 ORDER BY n DESC, canon_url LIMIT 20"
    ),
    # d39: vocab = top-100 by (count, token) — deterministic; the
    # rate is exact-integer division.
    # d44: the d02 signature family (i|gram salts), slot agreement
    # via list_filter over range, exact jaccard via distinct-gram
    # self-join.
    "d44_minhash_containment_est": (
        "WITH dd AS (SELECT doc_id, text FROM documents "
        "WHERE doc_id < 60), "
        "t AS (SELECT doc_id, string_split(text,' ') ws FROM dd), "
        "sh AS (SELECT doc_id, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2]) g "
        "FROM (SELECT doc_id, ws, "
        "unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x), "
        "sg AS (SELECT DISTINCT doc_id, g FROM sh), "
        "sig AS (SELECT doc_id, [MIN(md5(concat('0|',g))), MIN(md5(concat('1|',g))), MIN(md5(concat('2|',g))), MIN(md5(concat('3|',g))), MIN(md5(concat('4|',g))), MIN(md5(concat('5|',g))), MIN(md5(concat('6|',g))), MIN(md5(concat('7|',g))), MIN(md5(concat('8|',g))), MIN(md5(concat('9|',g))), MIN(md5(concat('10|',g))), MIN(md5(concat('11|',g))), MIN(md5(concat('12|',g))), MIN(md5(concat('13|',g))), MIN(md5(concat('14|',g))), MIN(md5(concat('15|',g)))] s FROM sh GROUP BY doc_id), "
        "sz AS (SELECT doc_id, COUNT(*) n FROM sg GROUP BY doc_id), "
        "pr AS (SELECT a.doc_id i, b.doc_id j, a.s sa, b.s sb "
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id), "
        "se AS (SELECT i, j, len(list_filter(range(1,17), "
        "k -> sa[CAST(k AS INT)] = sb[CAST(k AS INT)])) slots_eq "
        "FROM pr), "
        "it AS (SELECT x.doc_id i, y.doc_id j, COUNT(*) itc "
        "FROM sg x JOIN sg y ON y.g = x.g AND x.doc_id < y.doc_id "
        "GROUP BY 1,2) "
        "SELECT se.i, se.j, CAST(slots_eq AS BIGINT) slots_eq, "
        "CAST(COALESCE(itc,0) AS BIGINT) inter, "
        "CAST(s1.n + s2.n - COALESCE(itc,0) AS BIGINT) uni "
        "FROM se LEFT JOIN it ON it.i = se.i AND it.j = se.j "
        "JOIN sz s1 ON s1.doc_id = se.i "
        "JOIN sz s2 ON s2.doc_id = se.j "
        "ORDER BY se.i, se.j LIMIT 300"
    ),
    # m04: the GIF attestation replayed WITHOUT bytes — the closed
    # form of the fabricated palette image; Spark's numbers came
    # through encode_gif -> decode_gif, so equality attests the
    # whole LZW path.
    "m04_gif_attest": (
        "WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100), "
        "px AS (SELECT doc_id, (doc_id + 3*y.g + 5*x.g) % 16 i "
        "FROM ids, generate_series(0,7) y(g), generate_series(0,7) x(g)) "
        "SELECT doc_id AS media_id, CAST(64 AS BIGINT) n_px, "
        "CAST(SUM((17*i) % 256) AS BIGINT) r_sum, "
        "CAST(SUM((i*i + 7) % 256) AS BIGINT) g_sum, "
        "CAST(SUM((29*i + doc_id) % 256) AS BIGINT) b_sum, "
        "CAST(SUM(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) c0 "
        "FROM px GROUP BY doc_id ORDER BY media_id"
    ),
    # t36: the oracle recomputes the exact quantiles (the r31
    # interpolation-parity spelling) and asserts the contract
    # booleans TRUE — the sketch is Spark-side-only, so a contract
    # breach flips the Spark booleans against these constants (the
    # v07 HLL-envelope pattern).
    "t36_quantile_sketch_attest": (
        "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) n, "
        "ROUND(quantile_cont(l_quantity, 0.5), 6) p50, "
        "ROUND(quantile_cont(l_quantity, 0.9), 6) p90, "
        "TRUE AS sketch_ok_p50, TRUE AS sketch_ok_p90 "
        "FROM lineitem GROUP BY 1 ORDER BY 1"
    ),
    # t37: the whole 6-merge BPE loop replayed unrolled (fixed-
    # iteration Lloyd's pattern) with the identical string-replace
    # merge application — a full algorithm replay, not a spot check.
    "t37_bpe_merges": _bpe_oracle(6),
    # t38: the planted-markup CASE + the identical strip chain in
    # DuckDB — every output byte checks block/tag/entity/whitespace
    # handling (the t08 planted-fixture pattern).
    "t38_strip_markup": _t38_oracle(),
    # v27: the 3-step greedy selection unrolled; rel and pairwise
    # sims rounded to 4dp BEFORE scoring (v08 discipline), 0.7/0.3
    # as literals on both engines (never 1-lam: 1-0.7 != 0.3 in
    # doubles).
    "v27_mmr_rerank": (
        "WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv "
        "FROM embeddings WHERE vec_id < 20), "
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) cv "
        "FROM embeddings WHERE vec_id >= 20), "
        "s AS (SELECT qid, vec_id, cv, "
        "ROUND(list_cosine_similarity(cv, qv), 4) rel FROM c, q), "
        "top AS (SELECT qid, vec_id, cv, rel FROM (SELECT *, "
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) rn "
        "FROM s) WHERE rn <= 8), "
        "p1 AS (SELECT qid, vec_id, cv, rel FROM (SELECT *, "
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) rn "
        "FROM top) WHERE rn = 1), "
        "c2 AS (SELECT t.qid, t.vec_id, t.cv, t.rel, "
        "ROUND(list_cosine_similarity(t.cv, p.cv), 4) m1 "
        "FROM top t JOIN p1 p ON t.qid = p.qid AND t.vec_id <> p.vec_id), "
        "p2 AS (SELECT qid, vec_id, cv, rel, m1 FROM (SELECT *, "
        "ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY 0.7*rel - 0.3*m1 DESC, vec_id) rn FROM c2) WHERE rn = 1), "
        "c3 AS (SELECT t.qid, t.vec_id, t.rel, "
        "GREATEST(t.m1, ROUND(list_cosine_similarity(t.cv, p.cv), 4)) m2 "
        "FROM c2 t JOIN p2 p ON t.qid = p.qid AND t.vec_id <> p.vec_id), "
        "p3 AS (SELECT qid, vec_id, rel FROM (SELECT *, "
        "ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY 0.7*rel - 0.3*m2 DESC, vec_id) rn FROM c3) WHERE rn = 1) "
        "SELECT * FROM ("
        "SELECT qid, CAST(1 AS INT) rnk, vec_id, rel FROM p1 "
        "UNION ALL SELECT qid, CAST(2 AS INT) rnk, vec_id, rel FROM p2 "
        "UNION ALL SELECT qid, CAST(3 AS INT) rnk, vec_id, rel FROM p3"
        ") ORDER BY qid, rnk"
    ),
    # m06: fabrication + patch arithmetic replayed closed-form; the
    # Spark numbers came through encode_png(Paeth) -> decode_png ->
    # patch reshape, so equality attests codec AND bookkeeping.
    "m06_patch_attest": (
        "WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100), "
        "px AS (SELECT doc_id, y.g // 8 py, x.g // 8 pxg, "
        "(3*doc_id + 5*y.g + 13*x.g) % 256 v "
        "FROM ids, generate_series(0,15) y(g), generate_series(0,15) x(g)) "
        "SELECT doc_id AS media_id, CAST(py AS BIGINT) patch_y, "
        "CAST(pxg AS BIGINT) patch_x, CAST(SUM(v) AS BIGINT) px_sum, "
        "CAST(MIN(v) AS BIGINT) px_min, CAST(MAX(v) AS BIGINT) px_max "
        "FROM px GROUP BY 1, 2, 3 ORDER BY media_id, patch_y, patch_x"
    ),
    "t40_sentence_stats": _t40_oracle(),
    "t41_stopword_coverage": _t41_oracle(),
    "d49_domain_suffix_audit": _d49_oracle(),
    "t42_unicode_normalize": _t42_oracle(),
    # d50: the d19 closure CTE extended with keep-best + ledger
    # arithmetic - the WHOLE dedup flow replays. Parameters come
    # from the SAME D50_LEDGER_PARAMS constant the query and the
    # planting assertion use (round-11 ADVICE).
    "d50_dedup_cluster_ledger": (
        "WITH RECURSIVE tok AS (SELECT doc_id, "
        "list_filter(string_split(text,' '), x -> x<>'') tks "
        "FROM documents), "
        "n AS (SELECT doc_id, tks, unnest(generate_series(0, "
        "CAST(CEIL(GREATEST(len(tks),1)/{sp}.0) AS INT) - 1)) i FROM tok), "
        "sp AS (SELECT DISTINCT doc_id, "
        "md5(array_to_string(tks[i*{sp}+1 : i*{sp}+{sp}],' ')) h FROM n), "
        "cap AS (SELECT h FROM (SELECT h, COUNT(*) c FROM sp GROUP BY h) "
        "WHERE c BETWEEN 2 AND {df}), "
        "p AS (SELECT a.doc_id i, b.doc_id j FROM sp a JOIN cap USING (h) "
        "JOIN sp b USING (h) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2 HAVING COUNT(*) >= {ms}), "
        "e AS (SELECT i a, j b FROM p UNION SELECT j, i FROM p), "
        "reach(a, b) AS (SELECT a, b FROM e "
        "UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a), "
        "comp AS (SELECT a doc_id, LEAST(a, MIN(b)) component FROM reach "
        "GROUP BY a), "
        "sz AS (SELECT component, c.doc_id, n_chars, "
        "ROW_NUMBER() OVER (PARTITION BY component "
        "ORDER BY n_chars DESC, c.doc_id) rn "
        "FROM comp c JOIN documents d ON d.doc_id = c.doc_id) "
        "SELECT component, CAST(COUNT(*) AS BIGINT) n_docs, "
        "CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) "
        "kept_doc_id, "
        "CAST(MIN(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) "
        "kept_chars, "
        "CAST(SUM(n_chars) - MIN(CASE WHEN rn = 1 THEN n_chars END) "
        "AS BIGINT) chars_removed "
        "FROM sz GROUP BY component ORDER BY component LIMIT 200"
    ).format(
        sp=dedup.D50_LEDGER_PARAMS["span"],
        ms=dedup.D50_LEDGER_PARAMS["min_shared"],
        df=dedup.D50_LEDGER_PARAMS["max_df"],
    ),
    # m07: fabrication replayed closed-form; Spark's numbers came
    # through encode_pnm/decode_pnm (binary P6 + bit-packed P4).
    "m07_pnm_attest": (
        "WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100), "
        "px AS (SELECT doc_id, y.g yy, x.g xx "
        "FROM ids, generate_series(0,7) y(g), generate_series(0,7) x(g)) "
        "SELECT doc_id AS media_id, "
        "CAST(SUM((5*yy + 11*xx + doc_id) % 256) AS BIGINT) r_sum, "
        "CAST(SUM((3*yy + xx + 2*doc_id) % 256) AS BIGINT) g_sum, "
        "CAST(SUM((yy*xx + doc_id) % 256) AS BIGINT) b_sum, "
        "CAST(SUM(CASE WHEN (xx + yy + doc_id) % 3 = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) bw_black, CAST(64 AS BIGINT) n_px "
        "FROM px GROUP BY doc_id ORDER BY media_id"
    ),

    # t39: full train->apply replay sharing the t37 training prefix.
    "t39_bpe_segment": _t39_oracle(6),
    # t43: full train->encode replay sharing the t37 training prefix;
    # id precedence (unk, merges in step order, ascii base) mirrors
    # token_id_table exactly.
    "t43_token_ids": _t43_oracle(6),
    # v28: unrolled fixed-point logistic-GD replay — all-integer
    # arithmetic, so bit-exact on any partitioning (no ROUND cells).
    "v28_logreg_train": _v28_oracle(8, 2),
    # v29: the same training prefix + one scoring pass at the final
    # weights — the keep/drop ledger replays end-to-end.
    "v29_logreg_filter_ledger": _v29_oracle(8, 2),
    "t44_vocab_growth": _t44_oracle(),
    # v30: training stages restricted to the md5 complement INSIDE
    # the shared prefix, eval block over the holdout at i8.
    "v30_logreg_holdout_eval": _v30_oracle(8, 2, 0.25),
    "v34_auc_rank_eval": _v34_oracle(8, 2, 0.25),
    "v35_nb_holdout_eval": _v35_oracle(0.25),
    "t52_textrank_keywords": _t52_oracle(),
    "v36_nb_crossval": _v36_oracle(4),
    "v37_mcnemar_models": _v37_oracle(8, 2, 0.25),
    "v38_nb_top_features": _v38_oracle(0.25),
    "t45_vocab_coverage": _t45_oracle(),
    "t46_xcorpus_perplexity": _t46_oracle(),
    "t47_unigram_lm_tokenizer": _t47_oracle(),
    "t48_absdisc_perplexity": _t48_oracle(),
    "t49_kneser_ney_perplexity": _t49_oracle(),
    "t53_kn3_perplexity": _t53_oracle(),
    "v32_filter_agreement_cube": _v32_oracle(),
    "v31_filter_agreement": _v31_oracle(),
    "t50_wordpiece_merges": _wp_oracle(6),
    "m09_mfcc_attest": _m09_oracle(),
    "m10_delta_cepstra": _m10_oracle(),
    "t51_wordpiece_segment": _t51_oracle(6),
    "v33_tokenizer_bakeoff": _v33_oracle(6),
    # d53: identical planting (doc_id % 7 == 3 re-entering with
    # Latin aeo -> Cyrillic аео under id + 1e6), identical skeleton
    # fold (lower + translate back to ASCII), two exact distinct
    # aggs; both engines translate code points identically.
    "d53_homoglyph_dedup": (
        "WITH base AS (SELECT doc_id, text, source FROM documents "
        "WHERE doc_id < 20000), "
        "spoof AS (SELECT doc_id + 1000000 AS doc_id, "
        "translate(text, 'aeo', 'аео') AS text, source FROM base "
        "WHERE doc_id % 7 = 3), "
        "verbatim AS (SELECT doc_id + 2000000 AS doc_id, text, source "
        "FROM base WHERE doc_id % 11 = 5), "
        "b AS (SELECT * FROM base UNION ALL SELECT * FROM spoof "
        "UNION ALL SELECT * FROM verbatim), "
        "h AS (SELECT source grp, md5(text) hraw, "
        "md5(translate(lower(text), 'аеосрхον', 'aeocpxov')) hskel "
        "FROM b) "
        "SELECT grp source, CAST(COUNT(*) AS BIGINT) n_docs, "
        "CAST(COUNT(*) - COUNT(DISTINCT hraw) AS BIGINT) "
        "exact_dup_docs, "
        "CAST(COUNT(*) - COUNT(DISTINCT hskel) AS BIGINT) "
        "skeleton_dup_docs, "
        "CAST(COUNT(DISTINCT hraw) - COUNT(DISTINCT hskel) AS BIGINT) "
        "hidden_dup_docs "
        "FROM h GROUP BY grp ORDER BY grp"
    ),
    # d52: full CDC replay — identical md5-suffix cut rule,
    # identical synthetic-tail + DISTINCT end set, identical lag
    # window, identical occurrence join; k=16, mask '0', bound
    # doc_id < 20000 hardcoded on both sides.
    "d52_cdc_dedup": (
        "WITH base AS (SELECT doc_id id, source grp, text t, "
        "len(text) L FROM documents "
        "WHERE doc_id < 20000 AND len(text) >= 1), "
        "pos AS (SELECT id, t, L, "
        "unnest(generate_series(1, L - 15)) i FROM base WHERE L >= 16), "
        "bnd AS (SELECT id, t, L, i + 15 e FROM pos WHERE "
        "substr(md5(substr(t, CAST(i AS INT), 16)), 8, 1) = '0'), "
        "ends AS (SELECT DISTINCT id, t, e FROM "
        "(SELECT id, t, e FROM bnd "
        "UNION ALL SELECT id, t, L e FROM base) u), "
        "spans AS (SELECT id, t, e, "
        "COALESCE(LAG(e) OVER (PARTITION BY id ORDER BY e), 0) + 1 s "
        "FROM ends), "
        "chunks AS (SELECT id, e - s + 1 clen, "
        "md5(substr(t, CAST(s AS INT), CAST(e - s + 1 AS INT))) h "
        "FROM spans), "
        "withg AS (SELECT c.clen, c.h, b.grp FROM chunks c "
        "JOIN base b ON b.id = c.id), "
        "occ AS (SELECT h, COUNT(*) occ FROM withg GROUP BY h) "
        "SELECT grp source, CAST(COUNT(*) AS BIGINT) n_chunks, "
        "CAST(SUM(clen) AS BIGINT) n_bytes, "
        "CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "dup_chunks, "
        "CAST(SUM(CASE WHEN occ > 1 THEN clen ELSE 0 END) AS BIGINT) "
        "dup_bytes "
        "FROM withg JOIN occ USING (h) GROUP BY grp ORDER BY grp"
    ),
    # d51: full winnowing replay — identical md5-prefix || lpad
    # fixed-width keys, identical ROWS-frame windowed MIN (min
    # hash, rightmost position on ties), identical pair join;
    # constants (k=12, w=4, cap 2097152, ovl >= 0.5) hardcoded on
    # both sides.
    "d51_winnow_neardup": (
        "WITH c AS (SELECT doc_id doc, "
        "regexp_replace(lower(text), '[^a-z0-9]', '', 'g') c "
        "FROM documents WHERE doc_id < 2000), "
        "b AS (SELECT doc, c, len(c) L FROM c WHERE len(c) >= 15), "
        "p AS (SELECT doc, L, i pos, substr(c, CAST(i AS INT), 12) g "
        "FROM (SELECT doc, c, L, "
        "unnest(generate_series(1, L - 11)) i FROM b) x), "
        "kk AS (SELECT doc, L, pos, substr(md5(g), 1, 10) || "
        "lpad(CAST(2097152 - pos AS VARCHAR), 7, '0') ks FROM p), "
        "sel AS (SELECT doc, L, pos, MIN(ks) OVER "
        "(PARTITION BY doc ORDER BY pos "
        "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) s FROM kk), "
        "fp AS (SELECT DISTINCT doc, substr(s, 1, 10) h FROM sel "
        "WHERE pos <= L - 11 - 3), "
        "sz AS (SELECT doc, COUNT(*) n FROM fp GROUP BY doc), "
        "pr AS (SELECT a.doc i, b.doc j, COUNT(*) shared FROM fp a "
        "JOIN fp b ON a.h = b.h AND a.doc < b.doc GROUP BY 1, 2), "
        "r AS (SELECT i, j, CAST(shared AS BIGINT) n_shared, "
        "CAST(si.n AS BIGINT) n_fp_i, CAST(sj.n AS BIGINT) n_fp_j, "
        "ROUND(shared * 1.0 / LEAST(si.n, sj.n), 6) ovl "
        "FROM pr JOIN sz si ON si.doc = pr.i "
        "JOIN sz sj ON sj.doc = pr.j) "
        "SELECT * FROM r WHERE ovl >= 0.5 "
        "ORDER BY ovl DESC, i, j LIMIT 50"
    ),
    # d48: the naive global ROW_NUMBER spelling — the semantic
    # contract the two-pass bucketed ranker must reproduce exactly.
    "d48_epoch_shuffle": (
        "WITH k AS (SELECT doc_id, "
        "substr(md5('epoch7:' || CAST(doc_id AS VARCHAR)), 1, 15) h "
        "FROM documents), "
        "r AS (SELECT doc_id, "
        "ROW_NUMBER() OVER (ORDER BY h, doc_id) epoch_pos FROM k) "
        "SELECT doc_id, CAST(epoch_pos AS BIGINT) epoch_pos, "
        "CAST((epoch_pos - 1) // 256 AS BIGINT) batch_id "
        "FROM r WHERE doc_id < 2000 ORDER BY doc_id"
    ),
    # m05: closed-form replay of the square-wave fabrication — zero
    # crossings by divisor counting (multiples of h in [1, na-1]
    # that are not frame boundaries, i.e. not multiples of
    # lcm(h,160)), energy = a^2 * active samples, active frames by
    # ceiling division. No series scan, no bytes.
    # m08: the pure-tone closed forms — Parseval for the total
    # spectral power, single-bin energy for the peak, and the
    # measured mel-bank constants (filter 8, support bins 32..46,
    # 12 filters) which the Spark side recomputes from decoded
    # bytes + numpy FFT + the HTK filter geometry.
    "m08_mel_attest": (
        "WITH p AS (SELECT doc_id AS media_id, "
        "1000 + 4*doc_id AS a, "
        "doc_id % 2 AS odd, "
        "(800 + (doc_id % 7) * 160) // 160 AS nf "
        "FROM documents WHERE doc_id < 100) "
        "SELECT media_id, CAST(nf AS BIGINT) n_frames, "
        "CAST(CASE WHEN odd = 1 THEN 80 ELSE 40 END AS BIGINT) "
        "peak_bin, "
        "CAST(nf * CASE WHEN odd = 1 THEN 320*320*a*a "
        "ELSE 80*80*a*a END AS BIGINT) peak_power, "
        "CAST(nf * 160 * CASE WHEN odd = 1 THEN 720*a*a "
        "ELSE 90*a*a END AS BIGINT) specsum, "
        "CAST(12 AS BIGINT) mel_n_filters, "
        "CAST(8 AS BIGINT) mel_argmax, "
        "CAST(32 AS BIGINT) mel_lo, "
        "CAST(46 AS BIGINT) mel_hi "
        "FROM p ORDER BY media_id"
    ),
    "m05_wav_attest": (
        "WITH p AS (SELECT doc_id AS media_id, "
        "4 + doc_id % 13 AS h, "
        "1000 + 37*doc_id AS a, "
        "800 + (doc_id % 7) * 160 AS n, "
        "(800 + (doc_id % 7) * 160) - (doc_id % 5) * 160 AS na, "
        "8000 + (doc_id % 3) * 4000 AS sample_rate "
        "FROM documents WHERE doc_id < 100) "
        "SELECT media_id, CAST(sample_rate AS BIGINT) sample_rate, "
        "CAST(n // 160 AS BIGINT) n_frames, "
        "CAST((na-1) // h - (na-1) // lcm(h, 160) AS BIGINT) zc_total, "
        "CAST(a*a*na AS BIGINT) energy, "
        "CAST((na + 159) // 160 AS BIGINT) active_frames "
        "FROM p ORDER BY media_id"
    ),
    # t35: the same two deterministic raters, agreement and
    # marginals in one conditional aggregate; kappa as the exact
    # integer fraction (n*agree - sum rc, n^2 - sum rc).
    "t35_kappa_agreement": (
        "WITH f AS (SELECT lang, n_chars, "
        "len(list_filter(string_split(text,' '), x -> x<>'')) nt "
        "FROM documents), "
        "c AS (SELECT lang, "
        "CASE WHEN n_chars < 216 THEN 0 WHEN n_chars < 374 THEN 1 "
        "ELSE 2 END a, "
        "CASE WHEN nt < 39 THEN 0 WHEN nt < 69 THEN 1 ELSE 2 END b "
        "FROM f), "
        "m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) n, "
        "CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) "
        "n_agree, "
        "CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) a0, "
        "CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) a1, "
        "CAST(SUM(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS BIGINT) a2, "
        "CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) b0, "
        "CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) b1, "
        "CAST(SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) b2 "
        "FROM c GROUP BY lang) "
        "SELECT lang, n, n_agree, "
        "n*n_agree - (a0*b0 + a1*b1 + a2*b2) AS kappa_num, "
        "n*n - (a0*b0 + a1*b1 + a2*b2) AS kappa_den "
        "FROM m ORDER BY lang"
    ),
    # d45: the full perceptual-hash pipeline replayed from the
    # embedding floats: quantize (two IEEE double ops + exact
    # floor), aHash bits by integer cross-multiplication, 16-bit
    # band ints, banded self-join, bit_count Hamming. Spark's path
    # additionally round-trips real PNG bytes in the middle.
    "d45_phash_neardup": (
        "WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e "
        "FROM embeddings WHERE vec_id < 2000), "
        "allv AS (SELECT vec_id, e FROM base "
        "UNION ALL SELECT vec_id + 100000, "
        "list_prepend(CAST(CAST(e[1] + 0.001 AS REAL) AS DOUBLE), "
        "e[2:64]) FROM base WHERE vec_id < 50), "
        "px AS (SELECT vec_id, s.k - 1 AS k, "
        "CAST(LEAST(255, GREATEST(0, FLOOR((e[s.k] + 1)*127.5))) "
        "AS BIGINT) p "
        "FROM allv, generate_series(1,64) s(k)), "
        "tot AS (SELECT vec_id, SUM(p) t FROM px GROUP BY vec_id), "
        "bits AS (SELECT px.vec_id, k, "
        "CASE WHEN p*64 > t THEN 1 ELSE 0 END bt "
        "FROM px JOIN tot USING (vec_id)), "
        "bands AS (SELECT vec_id, CAST(k // 16 AS INT) b, "
        "CAST(SUM(bt << (k % 16)) AS BIGINT) v "
        "FROM bits GROUP BY 1, 2), "
        "cand AS (SELECT DISTINCT x.vec_id i, y.vec_id j "
        "FROM bands x JOIN bands y ON y.b = x.b AND y.v = x.v "
        "AND x.vec_id < y.vec_id), "
        "ham AS (SELECT cand.i, cand.j, "
        "CAST(SUM(bit_count(xor(bx.v, by.v))) AS BIGINT) hamming "
        "FROM cand JOIN bands bx ON bx.vec_id = cand.i "
        "JOIN bands by ON by.vec_id = cand.j AND by.b = bx.b "
        "GROUP BY 1, 2) "
        "SELECT i, j, hamming FROM ham WHERE hamming <= 3 "
        "ORDER BY i, j LIMIT 300"
    ),
    # t32: per-class counts are length deltas of the same POSIX
    # character classes on both engines ('g' = replace all).
    "t32_charset_audit": (
        "WITH c AS (SELECT event_type, props, "
        "length(props) tot, "
        "length(props) - length(regexp_replace(props, '[A-Za-z]', '', "
        "'g')) lat, "
        "length(props) - length(regexp_replace(props, '[0-9]', '', "
        "'g')) dig, "
        "length(props) - length(regexp_replace(props, '[ ]', '', "
        "'g')) spc "
        "FROM events) "
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) n_events, "
        "CAST(SUM(tot) AS BIGINT) chars, "
        "CAST(SUM(lat) AS BIGINT) latin, "
        "CAST(SUM(dig) AS BIGINT) digit, "
        "CAST(SUM(spc) AS BIGINT) space, "
        "CAST(SUM(tot - lat - dig - spc) AS BIGINT) other "
        "FROM c GROUP BY event_type ORDER BY event_type"
    ),
    # d46: keep-first replayed as ROW_NUMBER over (doc, pos) within
    # each md5 block group; rn > 1 is removed.
    "d46_block_dedup": (
        "WITH toks AS (SELECT doc_id, "
        "list_filter(string_split(text,' '), x -> x<>'') tl "
        "FROM documents), "
        "blocks AS (SELECT doc_id, CAST(u.i AS INT) pos, "
        "md5(array_to_string(tl[CAST(u.i*16+1 AS INT):"
        "CAST(u.i*16+16 AS INT)], ' ')) h, "
        "len(tl[CAST(u.i*16+1 AS INT):CAST(u.i*16+16 AS INT)]) ntok "
        "FROM toks, UNNEST(range(0, CAST(CEIL(len(tl)/16.0) AS BIGINT))) "
        "u(i) WHERE len(tl) >= 1), "
        "marked AS (SELECT doc_id, pos, ntok, ROW_NUMBER() OVER "
        "(PARTITION BY h ORDER BY doc_id, pos) rn FROM blocks) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_blocks, "
        "CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "n_removed, "
        "CAST(SUM(CASE WHEN rn > 1 THEN ntok ELSE 0 END) AS BIGINT) "
        "removed_tokens "
        "FROM marked GROUP BY doc_id "
        "ORDER BY removed_tokens DESC, doc_id LIMIT 100"
    ),
    # t33: the score bucket is EXACT integer division — (nd*10)//nt
    # — so no rounding boundary exists anywhere in the entry.
    "t33_calibration_bins": (
        "WITH f AS (SELECT source, n_chars, "
        "len(list_distinct(list_filter(string_split(text,' '), "
        "x -> x<>''))) nd, "
        "len(list_filter(string_split(text,' '), x -> x<>'')) nt "
        "FROM documents), "
        "b AS (SELECT source, "
        "CAST(LEAST(9, (nd*10)//nt) AS INT) score_bucket, "
        "CASE WHEN n_chars > 450 THEN 1 ELSE 0 END pos "
        "FROM f WHERE nt >= 1) "
        "SELECT source, score_bucket, CAST(COUNT(*) AS BIGINT) n, "
        "CAST(SUM(pos) AS BIGINT) n_pos "
        "FROM b GROUP BY 1, 2 ORDER BY source, score_bucket"
    ),
    # t34: PMI ordering replayed as the raw double ratio of exact
    # integer counts (ln is monotone); output columns integer-only.
    "t34_pmi_collocations": (
        "WITH tk AS (SELECT list_filter(string_split(text,' '), "
        "x -> x<>'') tl FROM documents), "
        "uni AS (SELECT t.w, COUNT(*) n FROM "
        "(SELECT unnest(tl) w FROM tk) t GROUP BY 1), "
        "bg AS (SELECT array_to_string(tl[CAST(u.i AS INT):"
        "CAST(u.i+1 AS INT)], ' ') bigram "
        "FROM tk, UNNEST(range(1, len(tl))) u(i) WHERE len(tl) >= 2), "
        "bc AS (SELECT bigram, COUNT(*) n_ab FROM bg GROUP BY 1), "
        "tot AS (SELECT SUM(n_ab) nn FROM bc), "
        "j AS (SELECT bc.bigram, n_ab, ua.n n_a, ub.n n_b "
        "FROM bc JOIN uni ua ON ua.w = string_split(bc.bigram,' ')[1] "
        "JOIN uni ub ON ub.w = string_split(bc.bigram,' ')[2] "
        "WHERE n_ab >= 5) "
        "SELECT bigram, CAST(n_ab AS BIGINT) n_ab, "
        "CAST(n_a AS BIGINT) n_a, CAST(n_b AS BIGINT) n_b "
        "FROM j, tot "
        "ORDER BY CAST(n_ab AS DOUBLE)*CAST(nn AS DOUBLE)/"
        "(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)) DESC, bigram "
        "LIMIT 50"
    ),
    # v26: the same panel scored in SQL; ROW_NUMBER replays the
    # (cosine desc, vec_id) argmax; output id/label columns only.
    "v26_hard_negatives": (
        "WITH q AS (SELECT vec_id qid, label qlabel, "
        "CAST(embedding AS DOUBLE[]) qv FROM embeddings "
        "WHERE vec_id < 500 AND vec_id % 5 = 0), "
        "c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) ev "
        "FROM embeddings), "
        "s AS (SELECT qid, qlabel, vec_id, label, "
        "list_cosine_similarity(ev, qv) cs "
        "FROM c, q WHERE label <> qlabel), "
        "r AS (SELECT qid, qlabel, vec_id, label, ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY cs DESC, vec_id) rn FROM s) "
        "SELECT qid, qlabel, vec_id AS hard_neg_id, label AS neg_label "
        "FROM r WHERE rn = 1 ORDER BY qid"
    ),
    "t30_freq_spectrum": (
        "WITH tk AS (SELECT list_filter(string_split(text,' '), "
        "x -> x<>'') tl FROM documents), "
        "g AS (SELECT array_to_string(tl[CAST(u.i AS INT):"
        "CAST(u.i+2 AS INT)], ' ') gm "
        "FROM tk, UNNEST(range(1, len(tl)-1)) AS u(i) "
        "WHERE len(tl) >= 3), "
        "c AS (SELECT gm, COUNT(*) c FROM g GROUP BY gm) "
        "SELECT CAST(LEAST(c, 11) AS INT) freq_class, "
        "COUNT(*) n_types, CAST(SUM(c) AS BIGINT) mass "
        "FROM c GROUP BY 1 ORDER BY 1"
    ),
    # d43: chunking replayed with UNFILTERED string_split (mirrors
    # chunk_tokens' raw F.split), grams per chunk, distinct-doc
    # counts, integer redundancy verdicts.
    "d43_rag_chunk_overlap": (
        "WITH tk AS (SELECT doc_id, source, string_split(text,' ') tl "
        "FROM documents), "
        "ch AS (SELECT doc_id, source, CAST(u.i AS INT) chunk_id, "
        "tl[CAST(u.i*32+1 AS INT):CAST(u.i*32+40 AS INT)] ck "
        "FROM tk, UNNEST(range(0, CAST(CEIL(GREATEST(len(tl)-8,1)/32.0) "
        "AS BIGINT))) AS u(i)), "
        "cg AS (SELECT DISTINCT doc_id, chunk_id, "
        "array_to_string(ck[CAST(v.j AS INT):CAST(v.j+4 AS INT)], ' ') gm "
        "FROM ch, UNNEST(range(1, len(ck)-3)) AS v(j) "
        "WHERE len(ck) >= 5), "
        "gd AS (SELECT gm, COUNT(DISTINCT doc_id) nd FROM cg GROUP BY gm), "
        "pc AS (SELECT doc_id, chunk_id, COUNT(*) tot, "
        "SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) shr "
        "FROM cg JOIN gd USING (gm) GROUP BY 1,2) "
        "SELECT source, COUNT(*) n_chunks, "
        "CAST(SUM(CASE WHEN shr*2 >= tot THEN 1 ELSE 0 END) AS BIGINT) "
        "n_redundant, "
        "CAST(SUM(shr) AS BIGINT) shared_grams, "
        "CAST(SUM(tot) AS BIGINT) total_grams "
        "FROM pc JOIN (SELECT DISTINCT doc_id, source FROM documents) ds "
        "USING (doc_id) GROUP BY source ORDER BY source"
    ),
    # d42: integer cross-multiplied verdicts on distinct 3-grams.
    "d42_contamination_direction": (
        "WITH tk AS (SELECT source, "
        "list_filter(string_split(text,' '), x -> x<>'') tl "
        "FROM documents), "
        "g AS (SELECT DISTINCT source, "
        "array_to_string(tl[CAST(u.i AS INT):CAST(u.i+2 AS INT)], ' ') gm "
        "FROM tk, UNNEST(range(1, len(tl)-1)) AS u(i) "
        "WHERE len(tl) >= 3), "
        "tot AS (SELECT source, COUNT(*) n FROM g GROUP BY source), "
        "h AS (SELECT a.source grp_a, b.source grp_b, COUNT(*) shared "
        "FROM g a JOIN g b ON a.gm = b.gm AND a.source < b.source "
        "GROUP BY 1,2) "
        "SELECT grp_a, grp_b, CAST(shared AS BIGINT) shared, "
        "CAST(ta.n AS BIGINT) n_a, CAST(tb.n AS BIGINT) n_b, "
        "CASE WHEN shared*100 >= 10*ta.n AND shared*100 >= 10*tb.n "
        "THEN 'mutual' "
        "WHEN shared*100 >= 10*ta.n THEN 'a_in_b' "
        "WHEN shared*100 >= 10*tb.n THEN 'b_in_a' "
        "ELSE 'weak' END verdict "
        "FROM h JOIN tot ta ON ta.source = grp_a "
        "JOIN tot tb ON tb.source = grp_b "
        "ORDER BY grp_a, grp_b LIMIT 200"
    ),
    # d41: anchors by string_agg ORDER BY rank; jaccard over
    # distinct-token joins; best match by (inter/uni DESC, pid).
    "d41_crosslingual_align": (
        "WITH tl AS (SELECT doc_id, lang, string_split(text,' ') ws "
        "FROM documents), "
        "tk AS (SELECT DISTINCT doc_id, lang, "
        "array_to_string(ws[CAST(u.i AS INT):CAST(u.i+1 AS INT)], ' ') tok "
        "FROM tl, UNNEST(range(1, len(ws))) AS u(i) "
        "WHERE len(ws) >= 2), "
        "dfq AS (SELECT tok, COUNT(DISTINCT doc_id) df FROM tk "
        "GROUP BY tok), "
        "rk AS (SELECT doc_id, lang, tok, ROW_NUMBER() OVER "
        "(PARTITION BY doc_id ORDER BY df, tok) rn "
        "FROM tk JOIN dfq USING (tok)), "
        "an0 AS (SELECT doc_id, lang, "
        "md5(string_agg(tok, '|' ORDER BY rn)) anchor, COUNT(*) na "
        "FROM rk WHERE rn <= 1 GROUP BY doc_id, lang "
        "HAVING COUNT(*) = 1), "
        "an AS (SELECT an0.doc_id, an0.lang, an0.anchor FROM an0 "
        "JOIN (SELECT anchor FROM an0 GROUP BY anchor "
        "HAVING COUNT(*) <= 64) fl USING (anchor)), "
        "pv AS (SELECT doc_id pid, anchor FROM an WHERE lang = 'en'), "
        "ot AS (SELECT doc_id, lang, anchor FROM an WHERE lang <> 'en'), "
        "cd AS (SELECT ot.doc_id, ot.lang, pv.pid FROM ot "
        "JOIN pv USING (anchor)), "
        "sz AS (SELECT doc_id, COUNT(*) sz FROM tk GROUP BY doc_id), "
        "itr AS (SELECT cd.doc_id, cd.lang, cd.pid, COUNT(*) inter "
        "FROM cd JOIN tk a ON a.doc_id = cd.doc_id "
        "JOIN tk b ON b.doc_id = cd.pid AND b.tok = a.tok "
        "GROUP BY 1,2,3), "
        "sc AS (SELECT itr.doc_id, itr.lang, itr.pid, inter, "
        "s1.sz + s2.sz - inter uni "
        "FROM itr JOIN sz s1 ON s1.doc_id = itr.doc_id "
        "JOIN sz s2 ON s2.doc_id = itr.pid), "
        "bst AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id "
        "ORDER BY inter*1.0/uni DESC, pid) r FROM sc) "
        "SELECT doc_id, lang, pid match_id, "
        "CAST(inter AS BIGINT) inter, CAST(uni AS BIGINT) uni "
        "FROM bst WHERE r = 1 ORDER BY doc_id LIMIT 100"
    ),
    # d40: the islands replay — range(1, n_pos+1) generates the
    # 1-based shingle positions; list slice is 1-based inclusive.
    "d40_substring_dedup": (
        "WITH toks AS (SELECT doc_id, "
        "list_filter(string_split(text,' '), x -> x<>'') tl "
        "FROM documents), "
        "g AS (SELECT doc_id, CAST(u.i AS INT) pos, "
        "md5(array_to_string(tl[CAST(u.i AS INT):CAST(u.i+4 AS INT)], ' ')) h "
        "FROM toks, UNNEST(range(1, len(tl)-3)) AS u(i) "
        "WHERE len(tl) >= 5), "
        "f AS (SELECT h FROM g GROUP BY h "
        "HAVING COUNT(DISTINCT doc_id) >= 2), "
        "dd AS (SELECT doc_id, pos FROM g JOIN f USING (h)), "
        "isl AS (SELECT doc_id, pos, pos - ROW_NUMBER() OVER "
        "(PARTITION BY doc_id ORDER BY pos) grp FROM dd), "
        "sp AS (SELECT doc_id, grp, MAX(pos)-MIN(pos)+5 len "
        "FROM isl GROUP BY 1,2) "
        "SELECT doc_id, COUNT(*) n_spans, "
        "CAST(MAX(len) AS BIGINT) max_span_tokens, "
        "CAST(SUM(len) AS BIGINT) dup_tokens "
        "FROM sp GROUP BY doc_id "
        "ORDER BY dup_tokens DESC, doc_id LIMIT 100"
    ),
    "d39_oov_rate": (
        "WITH toks AS (SELECT source, "
        "unnest(list_filter(string_split(text,' '), x -> x<>'')) tok "
        "FROM documents), "
        "vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) n FROM toks "
        "GROUP BY 1 ORDER BY n DESC, tok LIMIT 100)), "
        "f AS (SELECT source, CASE WHEN tok IN "
        "(SELECT tok FROM vocab) THEN 0 ELSE 1 END oov FROM toks) "
        "SELECT source, COUNT(*) n_tokens, "
        "CAST(SUM(oov) AS BIGINT) n_oov, "
        "ROUND(SUM(oov)*1.0/COUNT(*), 6) oov_rate "
        "FROM f GROUP BY source ORDER BY source"
    ),
    # v25: the v11 posexplode discipline — centroids per
    # (label, half, pos), cosine from narrow rejoined products.
    # ("label" is reserved in the oracle engine — quoted.)
    "v25_centroid_drift": (
        "WITH x AS (SELECT \"label\" g, vec_id % 2 half, "
        "unnest(CAST(embedding AS DOUBLE[])) x, "
        "generate_subscripts(CAST(embedding AS DOUBLE[]), 1) p "
        "FROM embeddings), "
        "c AS (SELECT g, half, p, AVG(x) m FROM x GROUP BY 1,2,3), "
        "j AS (SELECT a.g, SUM(a.m*b.m) dot, SUM(a.m*a.m) na, "
        "SUM(b.m*b.m) nb FROM c a JOIN c b "
        "ON a.g = b.g AND a.p = b.p AND a.half = 0 AND b.half = 1 "
        "GROUP BY 1) "
        "SELECT g \"label\", ROUND(dot/SQRT(na*nb), 6) centroid_cos "
        "FROM j ORDER BY \"label\""
    ),
    # d37: the AllPairs prefix lemma replayed — distinct 5-gram
    # shingles per doc, global-df rank per doc, prefix join, exact
    # Jaccard verify on candidates only; every count is an integer.
    "d37_prefix_jaccard": (
        "WITH t AS (SELECT doc_id doc, string_split(text,' ') ws "
        "FROM documents WHERE doc_id < 5000), "
        "toks AS (SELECT DISTINCT doc, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2],' ',"
        "ws[CAST(i AS INT)+3],' ',ws[CAST(i AS INT)+4]) tok FROM "
        "(SELECT doc, ws, unnest(generate_series(1, len(ws)-4)) i "
        "FROM t WHERE len(ws)>=5) x WHERE tok <> ''), "
        "sizes AS (SELECT doc, COUNT(*) sz FROM toks GROUP BY doc), "
        "dfreq AS (SELECT tok, COUNT(*) tdf FROM toks GROUP BY tok), "
        "ranked AS (SELECT doc, tok, tdf, ROW_NUMBER() OVER "
        "(PARTITION BY doc ORDER BY tdf, tok) pos "
        "FROM toks JOIN dfreq USING (tok)), "
        "pre AS (SELECT doc, tok FROM ranked JOIN sizes USING (doc) "
        "WHERE pos <= sz - CEIL(0.5 * sz) + 1 AND tdf <= 100000), "
        "cands AS (SELECT DISTINCT a.doc i, b.doc j FROM pre a "
        "JOIN pre b ON a.tok = b.tok AND a.doc < b.doc), "
        "ov AS (SELECT i, j, COUNT(*) inter FROM cands "
        "JOIN toks ta ON ta.doc = cands.i "
        "JOIN toks tb ON tb.doc = cands.j AND tb.tok = ta.tok "
        "GROUP BY i, j) "
        "SELECT i, j, inter, ROUND(inter * 1.0 / "
        "(sa.sz + sb.sz - inter), 6) jac "
        "FROM ov JOIN sizes sa ON sa.doc = ov.i "
        "JOIN sizes sb ON sb.doc = ov.j "
        "WHERE ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.5 "
        "ORDER BY jac DESC, i, j LIMIT 50"
    ),
    # t26: integer counts + Laplace smoothing; totals via the
    # scalar-subquery CTE; LN spelled identically on both engines.
    "t26_woe_iv": (
        "WITH per AS (SELECT CAST(LEAST(FLOOR(n_chars/100), 5) AS INT) "
        "bin, COUNT(*) n_docs, "
        "CAST(SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT) "
        "n_good, "
        "CAST(COUNT(*) - SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) "
        "AS BIGINT) n_bad FROM documents GROUP BY bin), "
        "tot AS (SELECT CAST(SUM(n_good) AS DOUBLE) gt, "
        "CAST(SUM(n_bad) AS DOUBLE) bt FROM per) "
        "SELECT bin, n_docs, n_good, n_bad, "
        "ROUND(LN(((n_good+0.5)/(gt+0.5)) / ((n_bad+0.5)/(bt+0.5))), 6) "
        "woe, "
        "ROUND(((n_good+0.5)/(gt+0.5) - (n_bad+0.5)/(bt+0.5)) * "
        "LN(((n_good+0.5)/(gt+0.5)) / ((n_bad+0.5)/(bt+0.5))), 6) "
        "iv_contrib FROM per, tot ORDER BY bin"
    ),
    # v24: both rankings on ROUNDED sims with id tie-break (rank-
    # deterministic); IDCG is the Python literal baked into both
    # spellings so neither engine sums the log series.
    "v24_retrieval_eval": (
        "WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) qv "
        "FROM embeddings WHERE vec_id % 50 = 7 AND vec_id < 2000), "
        "s AS (SELECT q_id, vec_id, "
        "ROUND(list_cosine_similarity("
        "CAST(embedding AS DOUBLE[]), qv), 6) fs, "
        "ROUND(list_cosine_similarity("
        "CAST(embedding AS DOUBLE[])[1:8], qv[1:8]), 6) ps "
        "FROM embeddings, q WHERE vec_id <> q_id), "
        "r AS (SELECT q_id, ROW_NUMBER() OVER "
        "(PARTITION BY q_id ORDER BY fs DESC, vec_id) er, "
        "ROW_NUMBER() OVER "
        "(PARTITION BY q_id ORDER BY ps DESC, vec_id) ar FROM s), "
        "per AS (SELECT q_id, "
        "SUM(CASE WHEN er<=10 AND ar<=10 THEN 1 END) hits, "
        "MIN(CASE WHEN er<=10 THEN ar END) first_rel, "
        "SUM(CASE WHEN er<=10 AND ar<=10 THEN "
        "1.0/(LN(ar+1.0)/LN(2.0)) END) dcg FROM r GROUP BY q_id) "
        "SELECT q_id, CAST(COALESCE(hits, 0) AS BIGINT) hits_at_10, "
        "ROUND(COALESCE(hits, 0)/10.0, 6) recall_at_10, "
        "ROUND(CASE WHEN first_rel <= 10 THEN 1.0/first_rel "
        "ELSE 0.0 END, 6) mrr_at_10, "
        f"ROUND(COALESCE(dcg, 0.0)/{_IDCG_10!r}, 6) ndcg_at_10 "
        "FROM per ORDER BY q_id"
    ),
    "d01_exact_dedup_groups": (
        "SELECT md5(text) h, MIN(doc_id) keep, COUNT(*) n FROM documents "
        "GROUP BY 1 ORDER BY h LIMIT 100"
    ),
    "d02_minhash_signature": _SHINGLE_CTE
    + (
        "SELECT doc_id, MIN(md5(concat('0|',g))) s0, MIN(md5(concat('1|',g))) s1, "
        "MIN(md5(concat('2|',g))) s2, MIN(md5(concat('3|',g))) s3 "
        "FROM sh GROUP BY doc_id ORDER BY doc_id LIMIT 100"
    ),
    "d03_simhash": _simhash_oracle(16),
    "d04_ngram_jaccard": (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ws FROM documents), "
        "sh AS (SELECT doc_id, list(concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2])) grams "
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x GROUP BY doc_id) "
        "SELECT a.doc_id i, ROUND("
        "len(list_intersect(list_distinct(a.grams), list_distinct(b.grams)))*1.0"
        "/len(list_distinct(list_concat(a.grams,b.grams))),6) jac "
        "FROM sh a JOIN sh b ON b.doc_id=a.doc_id+1 ORDER BY i LIMIT 100"
    ),
    "d05_embedding_neardup": (
        "SELECT a.vec_id i, b.vec_id j, "
        "ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
        "CAST(b.embedding AS DOUBLE[])),4) sim "
        "FROM embeddings a JOIN embeddings b ON a.vec_id<b.vec_id "
        "ORDER BY sim DESC, i, j LIMIT 20"
    ),
    "t01_token_counts": (
        "SELECT doc_id, len(list_filter(string_split(text,' '), x -> x<>'')) n_ws, "
        r"len(regexp_extract_all(text,'[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) n_re "
        "FROM documents ORDER BY doc_id LIMIT 100"
    ),
    "t02_quality_features": (
        "WITH b AS (SELECT doc_id, text, length(text) n_chars, "
        "list_filter(string_split(text,' '), x -> x<>'') toks, "
        r"len(regexp_extract_all(text,'[^a-zA-Z0-9\s]')) n_punct, "
        "len(regexp_extract_all(text,'[a-zA-Z]')) n_alpha FROM documents) "
        "SELECT doc_id, len(toks) q_words, "
        "ROUND(list_aggregate(list_transform(toks, x -> length(x)),'sum')*1.0"
        "/greatest(len(toks),1),6) q_mean_word_len, "
        "ROUND(n_punct*1.0/greatest(n_chars,1),6) q_punct_ratio, "
        "ROUND(n_alpha*1.0/greatest(n_chars,1),6) q_alpha_ratio, "
        "ROUND(len(list_filter(toks, x -> x IN ('the','and','of','to','in','is',"
        "'that','it','with','a','an','for','on','as','are')))*1.0"
        "/greatest(len(toks),1),6) q_stopword_ratio "
        "FROM b ORDER BY doc_id LIMIT 100"
    ),
    "t03_fingerprint": (
        "SELECT doc_id, MIN(md5(substr(text, CAST(i AS INT), 8))) fp "
        "FROM (SELECT doc_id, text, "
        "unnest(generate_series(1, greatest(length(text)-7,1))) i "
        "FROM documents) x GROUP BY doc_id ORDER BY doc_id LIMIT 100"
    ),
    "d06_lsh_neardup_pipeline": _lsh_pipeline_oracle(16, 4),
    "d14_containment_anchored": _anchored_containment_oracle(16, 4, 4, 0.5, 1000),
    "d15_weighted_sample": (
        "WITH w AS (SELECT doc_id, length(text)::DOUBLE wt, "
        "((('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT + 1) "
        "/ 4294967297.0) u FROM documents) "
        "SELECT doc_id, wt::BIGINT n_chars, ROUND(-ln(u)/wt, 9) aes_key "
        "FROM w WHERE wt > 0 ORDER BY aes_key, doc_id LIMIT 25"
    ),
    "d16_semantic_dedup": (
        "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v "
        "FROM embeddings), "
        "dup AS (SELECT DISTINCT a.vec_id FROM e a JOIN e b "
        "ON a.label=b.label AND b.vec_id < a.vec_id "
        "WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) > 0.9) "
        "SELECT label, COUNT(*) n, "
        "CAST(SUM(CASE WHEN dup.vec_id IS NOT NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) n_dup "
        "FROM e LEFT JOIN dup ON e.vec_id=dup.vec_id "
        "GROUP BY label ORDER BY label"
    ),
    "d17_span_dedup": (
        "WITH tok AS (SELECT doc_id, "
        "list_filter(string_split(text,' '), x -> x<>'') tks FROM documents), "
        "n AS (SELECT doc_id, tks, unnest(generate_series(0, "
        "CAST(CEIL(GREATEST(len(tks),1)/3.0) AS INT) - 1)) i FROM tok), "
        "sp AS (SELECT doc_id, "
        "md5(array_to_string(tks[i*3+1 : i*3+3],' ')) h FROM n), "
        "freq AS (SELECT h, COUNT(DISTINCT doc_id) docs FROM sp GROUP BY h), "
        "agg AS (SELECT doc_id, COUNT(*) n_spans, "
        "CAST(SUM(CASE WHEN docs>=2 THEN 1 ELSE 0 END) AS BIGINT) n_shared "
        "FROM sp JOIN freq USING (h) GROUP BY doc_id) "
        "SELECT doc_id, n_spans, n_shared, "
        "ROUND(n_shared/CAST(n_spans AS DOUBLE), 4) shared_ratio "
        "FROM agg ORDER BY shared_ratio DESC, doc_id LIMIT 100"
    ),
    "t15_corpus_vocab": (
        "WITH cnt AS (SELECT tk, COUNT(*) c FROM "
        "(SELECT unnest(list_filter(string_split(text,' '), "
        "x -> x<>'')) tk FROM documents) GROUP BY tk), "
        "tot AS (SELECT COUNT(*) vocab, CAST(SUM(c) AS BIGINT) total "
        "FROM cnt), "
        "top AS (SELECT CAST(SUM(c) AS BIGINT) top10_tokens FROM "
        "(SELECT c FROM cnt ORDER BY c DESC, tk LIMIT 10)) "
        "SELECT vocab, total, top10_tokens, "
        "ROUND(top10_tokens/CAST(total AS DOUBLE), 4) top10_coverage "
        "FROM tot CROSS JOIN top"
    ),
    "t16_token_entropy": (
        "WITH ex AS (SELECT doc_id, unnest(list_filter("
        "string_split(text,' '), x -> x<>'')) tk FROM documents), "
        "cnt AS (SELECT doc_id, tk, COUNT(*) c FROM ex GROUP BY 1,2) "
        "SELECT doc_id, CAST(SUM(c) AS BIGINT) n_tokens, "
        "COUNT(*) n_distinct, "
        "ROUND(LN(SUM(c)) - SUM(c*LN(c))/SUM(c), 4) entropy "
        "FROM cnt GROUP BY doc_id ORDER BY doc_id LIMIT 100"
    ),
    "t17_lexical_diversity": (
        "WITH ex AS (SELECT doc_id, unnest(list_filter("
        "string_split(text,' '), x -> x<>'')) tk FROM documents), "
        "cnt AS (SELECT doc_id, tk, COUNT(*) c FROM ex GROUP BY 1,2) "
        "SELECT doc_id, CAST(SUM(c) AS BIGINT) n_tokens, COUNT(*) n_distinct, "
        "CAST(SUM(CASE WHEN c=1 THEN 1 ELSE 0 END) AS BIGINT) n_hapax, "
        "ROUND(COUNT(*)/CAST(SUM(c) AS DOUBLE), 4) ttr, "
        "ROUND(SUM(CASE WHEN c=1 THEN 1 ELSE 0 END)"
        "/CAST(COUNT(*) AS DOUBLE), 4) hapax_ratio "
        "FROM cnt GROUP BY doc_id ORDER BY doc_id LIMIT 100"
    ),
    "d18_fingerprint_dedup": (
        "WITH f AS (SELECT doc_id, md5(array_to_string(list_sort("
        "list_distinct(list_filter(string_split(text,' '), "
        "x -> x<>''))),' ')) fp FROM documents) "
        "SELECT fp, COUNT(*) n_docs, MIN(doc_id) keep_id FROM f "
        "GROUP BY fp HAVING COUNT(*) >= 2 ORDER BY keep_id LIMIT 100"
    ),
    "d19_cc_closure": (
        "WITH RECURSIVE tok AS (SELECT doc_id, "
        "list_filter(string_split(text,' '), x -> x<>'') tks "
        "FROM documents), "
        "n AS (SELECT doc_id, tks, unnest(generate_series(0, "
        "CAST(CEIL(GREATEST(len(tks),1)/3.0) AS INT) - 1)) i FROM tok), "
        "sp AS (SELECT DISTINCT doc_id, "
        "md5(array_to_string(tks[i*3+1 : i*3+3],' ')) h FROM n), "
        "cap AS (SELECT h FROM (SELECT h, COUNT(*) c FROM sp GROUP BY h) "
        "WHERE c BETWEEN 2 AND 8), "
        "p AS (SELECT a.doc_id i, b.doc_id j FROM sp a JOIN cap USING (h) "
        "JOIN sp b USING (h) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2 HAVING COUNT(*) >= 3), "
        "e AS (SELECT i a, j b FROM p UNION SELECT j, i FROM p), "
        "reach(a, b) AS (SELECT a, b FROM e "
        "UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a) "
        "SELECT a doc_id, LEAST(a, MIN(b)) component FROM reach "
        "GROUP BY a ORDER BY doc_id LIMIT 200"
    ),
    "d23_train_val_test": (
        "WITH s AS (SELECT lang, CASE "
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'cccccccc' "
        "THEN 'train' "
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' "
        "THEN 'val' ELSE 'test' END AS split FROM documents) "
        "SELECT split, lang, COUNT(*) n FROM s "
        "GROUP BY split, lang ORDER BY split, lang"
    ),
    "r79_point_in_time": (
        # the history collapses to: changed keys whose change date
        # <= asof show the new version; everything else ordered
        # before asof shows its original row
        "WITH hist AS ("
        "SELECT o_orderkey k, o_orderstatus st, o_totalprice p, "
        "CAST(o_orderdate AS DATE) vf, "
        "CASE WHEN o_orderkey % 7 = 0 "
        "THEN CAST(o_orderdate AS DATE) + 30 END vt FROM orders "
        "UNION ALL "
        "SELECT o_orderkey, 'X', "
        "ROUND(CAST(o_totalprice AS DECIMAL(18,2)) "
        "* CAST(1.1 AS DECIMAL(3,2)), 2), "
        "CAST(o_orderdate AS DATE) + 30, NULL FROM orders "
        "WHERE o_orderkey % 7 = 0), "
        "snap AS (SELECT * FROM hist WHERE vf <= DATE '1995-06-01' "
        "AND (vt IS NULL OR vt > DATE '1995-06-01')) "
        "SELECT st, COUNT(*) n, "
        "CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) tot "
        "FROM snap GROUP BY st ORDER BY st"
    ),
    "v17_bitmap_distinct": (
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) du "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "t21_mad_outliers": (
        "WITH m AS (SELECT source, median(n_chars) med FROM documents "
        "GROUP BY source), "
        "dev AS (SELECT d.source, ABS(d.n_chars - m.med) ad "
        "FROM documents d JOIN m USING (source)), "
        "mad AS (SELECT source, median(ad) mad FROM dev GROUP BY source) "
        "SELECT dev.source, COUNT(*) n, "
        "COUNT(CASE WHEN dev.ad > 1.5 * 1.4826 * mad.mad THEN 1 END) "
        "outliers, ROUND(MAX(mad.mad), 1) mad "
        "FROM dev JOIN mad USING (source) "
        "GROUP BY dev.source ORDER BY dev.source"
    ),
    "v16_pagerank": (
        "WITH e0 AS (SELECT DISTINCT l_suppkey s, o_custkey + 1000000 c "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
        "e AS (SELECT s a, c b FROM e0 UNION ALL SELECT c, s FROM e0), "
        "dg AS (SELECT a, COUNT(*) deg FROM e GROUP BY a), "
        "nodes AS (SELECT DISTINCT a AS node FROM e), "
        "nn AS (SELECT COUNT(*) n FROM nodes), "
        "pr AS (WITH RECURSIVE walk(it, node, rank) AS ("
        "SELECT 0, node, 1.0/(SELECT n FROM nn) FROM nodes "
        "UNION ALL "
        "SELECT it+1, e.b, 0.15/(SELECT n FROM nn) "
        "+ 0.85 * SUM(walk.rank / dg.deg) "
        "FROM walk JOIN e ON e.a = walk.node JOIN dg ON dg.a = e.a "
        "WHERE it < 10 GROUP BY it, e.b) "
        "SELECT node, rank FROM walk WHERE it = 10) "
        "SELECT node, ROUND(rank, 6) r FROM pr "
        "ORDER BY r DESC, node LIMIT 50"
    ),
    "r78_scd2_history": (
        "WITH chgk AS (SELECT o_orderkey k, "
        "CAST(o_orderdate AS DATE) + 30 ts FROM orders "
        "WHERE o_orderkey % 7 = 0), "
        "closed AS (SELECT o.o_orderstatus st, o.o_totalprice p, "
        "FALSE cur FROM orders o JOIN chgk ON o.o_orderkey = chgk.k), "
        "untouched AS (SELECT o_orderstatus st, o_totalprice p, "
        "TRUE cur FROM orders WHERE o_orderkey % 7 <> 0), "
        "newv AS (SELECT 'X' st, "
        "ROUND(CAST(o_totalprice AS DECIMAL(18,2)) "
        "* CAST(1.1 AS DECIMAL(3,2)), 2) p, "
        "TRUE cur FROM orders WHERE o_orderkey % 7 = 0), "
        "allv AS (SELECT * FROM closed UNION ALL "
        "SELECT * FROM untouched UNION ALL SELECT * FROM newv) "
        "SELECT st, cur is_current, COUNT(*) n, "
        "CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) tot "
        "FROM allv GROUP BY st, cur ORDER BY st, is_current"
    ),
    "d25_psi_drift": (
        "WITH b AS (SELECT LEAST(9, CAST(floor(l_extendedprice/10000) "
        "AS BIGINT)) bucket, (l_orderkey % 2 = 0) AS is_ref FROM lineitem), "
        "pr AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) / "
        "(SELECT COUNT(*) FROM b WHERE is_ref) p FROM b WHERE is_ref "
        "GROUP BY bucket), "
        "pc AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) / "
        "(SELECT COUNT(*) FROM b WHERE NOT is_ref) p FROM b "
        "WHERE NOT is_ref GROUP BY bucket) "
        "SELECT pr.bucket, ROUND(pr.p, 6) pr, ROUND(pc.p, 6) pc, "
        "ROUND((pr.p - pc.p) * LN(pr.p / pc.p), 6) term "
        "FROM pr JOIN pc USING (bucket) ORDER BY bucket"
    ),
    "m01_binary_chunk_plan": (
        # CAST(SUM AS BIGINT): DuckDB SUM(int) yields HUGEINT (the
        # round-1 dtype-drift lesson)
        "WITH p AS (SELECT source, "
        "octet_length(CAST(text AS BLOB)) nb FROM documents), "
        "c AS (SELECT source, nb, "
        "unnest(generate_series(0, CAST(ceil(nb/256.0) AS INT)-1)) i "
        "FROM p) "
        "SELECT source, COUNT(*) n_chunks, "
        "CAST(SUM(LEAST(256, nb - i*256)) AS BIGINT) bytes, "
        "MAX(i) mx FROM c GROUP BY source ORDER BY source"
    ),
    "d24_decontaminate_frac": (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ws "
        "FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2]) g "
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x), "
        "b AS (SELECT DISTINCT g FROM sh WHERE doc_id % 100 = 7), "
        "n AS (SELECT doc_id, COUNT(*) n FROM sh WHERE doc_id % 100 <> 7 "
        "GROUP BY doc_id), "
        "h AS (SELECT sh.doc_id, COUNT(*) h FROM sh JOIN b USING (g) "
        "WHERE sh.doc_id % 100 <> 7 GROUP BY sh.doc_id), "
        "bad AS (SELECT n.doc_id FROM n JOIN h USING (doc_id) "
        "WHERE CAST(h AS DOUBLE)/n > 0.02) "
        "SELECT source, COUNT(*) n FROM documents "
        "WHERE doc_id % 100 <> 7 "
        "AND doc_id NOT IN (SELECT doc_id FROM bad) "
        "GROUP BY source ORDER BY source"
    ),
    "d22_e2e_corpus_prep": (
        # '80000000' == sampling.sample_threshold(0.5)
        "WITH tok AS (SELECT doc_id, source, "
        "list_filter(string_split(text,' '), x -> x<>'') tks "
        "FROM documents), "
        "f AS (SELECT doc_id, source, tks, len(tks) n_words, "
        "ROUND(list_sum(list_transform(tks, x -> CAST(length(x) AS "
        "DOUBLE)))/len(tks), 4) mwl, "
        "ROUND(len(list_filter(tks, x -> regexp_matches(x, "
        "'[a-zA-Z]')))/CAST(len(tks) AS DOUBLE), 4) fa, "
        "CAST(list_contains(tks,'the') AS INT)"
        "+CAST(list_contains(tks,'a') AS INT)"
        "+CAST(list_contains(tks,'and') AS INT)"
        "+CAST(list_contains(tks,'of') AS INT)"
        "+CAST(list_contains(tks,'to') AS INT)"
        "+CAST(list_contains(tks,'in') AS INT) sh "
        "FROM tok WHERE len(tks) > 0), "
        "q AS (SELECT doc_id, source, tks, "
        "md5(array_to_string(list_sort(list_distinct(tks)),' ')) fp "
        "FROM f WHERE n_words BETWEEN 50 AND 100000 "
        "AND mwl BETWEEN 3.0 AND 10.0 AND fa >= 0.8 AND sh >= 2), "
        "k AS (SELECT fp, MIN(doc_id) keep_id FROM q GROUP BY fp), "
        "s AS (SELECT q.* FROM q JOIN k ON q.fp = k.fp "
        "AND q.doc_id = k.keep_id "
        "WHERE substr(md5(CAST(q.doc_id AS VARCHAR)),1,8) < '80000000') "
        "SELECT source, COUNT(*) n_docs, "
        "CAST(SUM(len(tks)) AS BIGINT) n_tokens "
        "FROM s GROUP BY source ORDER BY source"
    ),
    "d21_degree_dist": (
        "WITH tok AS (SELECT doc_id, "
        "list_filter(string_split(text,' '), x -> x<>'') tks "
        "FROM documents), "
        "n AS (SELECT doc_id, tks, unnest(generate_series(0, "
        "CAST(CEIL(GREATEST(len(tks),1)/3.0) AS INT) - 1)) i FROM tok), "
        "sp AS (SELECT DISTINCT doc_id, "
        "md5(array_to_string(tks[i*3+1 : i*3+3],' ')) h FROM n), "
        "cap AS (SELECT h FROM (SELECT h, COUNT(*) c FROM sp GROUP BY h) "
        "WHERE c BETWEEN 2 AND 8), "
        "p AS (SELECT a.doc_id i, b.doc_id j FROM sp a JOIN cap USING (h) "
        "JOIN sp b USING (h) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2 HAVING COUNT(*) >= 3), "
        "deg AS (SELECT node, COUNT(*) degree FROM "
        "(SELECT i node FROM p UNION ALL SELECT j FROM p) "
        "GROUP BY node) "
        "SELECT degree, COUNT(*) n_nodes FROM deg "
        "GROUP BY degree ORDER BY degree"
    ),
    "t18_bm25": (
        "WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), "
        "x -> x<>'') tks FROM documents), "
        "doc AS (SELECT doc_id, len(tks) dl FROM tok), "
        "stats AS (SELECT COUNT(*) n, AVG(dl) avgdl FROM doc), "
        "ex AS (SELECT doc_id, unnest(tks) tk FROM tok), "
        "tf AS (SELECT doc_id, tk, CAST(COUNT(*) AS DOUBLE) tf FROM ex "
        "WHERE tk IN ('data','table','scan') GROUP BY doc_id, tk), "
        "dft AS (SELECT tk, CAST(COUNT(*) AS DOUBLE) df FROM tf GROUP BY tk) "
        "SELECT doc_id, ROUND(SUM(ln(1 + (n - df + 0.5)/(df + 0.5)) "
        "* tf*(1.2+1)/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl))), 4) bm25 "
        "FROM tf JOIN dft USING (tk) JOIN doc USING (doc_id) "
        "CROSS JOIN stats "
        "GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50"
    ),
    "t19_gopher_rules": (
        "WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), "
        "x -> x<>'') tks FROM documents), "
        "f AS (SELECT doc_id, len(tks) n_words, "
        "ROUND(list_sum(list_transform(tks, x -> CAST(length(x) AS DOUBLE)))"
        "/len(tks), 4) mean_word_len, "
        "ROUND(len(list_filter(tks, x -> regexp_matches(x, '[a-zA-Z]')))"
        "/CAST(len(tks) AS DOUBLE), 4) frac_alpha, "
        "CAST(list_contains(tks,'the') AS INT)"
        "+CAST(list_contains(tks,'a') AS INT)"
        "+CAST(list_contains(tks,'and') AS INT)"
        "+CAST(list_contains(tks,'of') AS INT)"
        "+CAST(list_contains(tks,'to') AS INT)"
        "+CAST(list_contains(tks,'in') AS INT) stop_hits "
        "FROM tok WHERE len(tks) > 0) "
        "SELECT doc_id, n_words, mean_word_len, frac_alpha, stop_hits, "
        "CAST(n_words BETWEEN 50 AND 100000 "
        "AND mean_word_len BETWEEN 3.0 AND 10.0 "
        "AND frac_alpha >= 0.8 AND stop_hits >= 2 AS INT) keep "
        "FROM f ORDER BY doc_id LIMIT 100"
    ),
    "v11_centroid_cohesion": (
        "WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) v "
        "FROM embeddings), "
        "x AS (SELECT label, vec_id, unnest(v) x, "
        "generate_subscripts(v, 1) p FROM e), "
        "c AS (SELECT label, p, AVG(x) m FROM x GROUP BY 1,2), "
        "dots AS (SELECT x.label, x.vec_id, SUM(x.x*c.m) dot, "
        "SUM(x.x*x.x) nv, SUM(c.m*c.m) nc "
        "FROM x JOIN c ON x.label=c.label AND x.p=c.p GROUP BY 1,2) "
        "SELECT label, COUNT(*) n, "
        "ROUND(AVG(dot/SQRT(nv*nc)), 4) cohesion "
        "FROM dots GROUP BY label ORDER BY label"
    ),
    "v12_knn_classify": (
        "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v "
        "FROM embeddings), "
        "q AS (SELECT vec_id qid, label true_label, v qv FROM e "
        "WHERE vec_id % 50 = 0), "
        "scored AS (SELECT qid, true_label, e.vec_id, e.label, "
        "ROUND(list_cosine_similarity(e.v, qv), 4) sim, "
        "ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY ROUND(list_cosine_similarity(e.v, qv), 4) DESC, e.vec_id) rn "
        "FROM e JOIN q ON e.vec_id <> qid), "
        "votes AS (SELECT qid, true_label, label, COUNT(*) votes, "
        "ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY COUNT(*) DESC, label) vr "
        "FROM scored WHERE rn <= 5 GROUP BY 1,2,3) "
        "SELECT qid, true_label, label predicted, votes "
        "FROM votes WHERE vr=1 ORDER BY qid"
    ),
    "t04_lang_id": _lang_id_oracle(),
    "t31_langid_confusion": _langid_confusion_oracle(),
    "v02_rp_lsh_ann": _rp_lsh_oracle(4, 42, 64, 2, 10),
    "v06_pca_scores": _PCA2_ORACLE,
    "t05_levenshtein": (
        "SELECT a.doc_id i, levenshtein(substr(a.text,1,40), substr(b.text,1,40)) d "
        "FROM documents a JOIN documents b ON b.doc_id=a.doc_id+1 "
        "ORDER BY i LIMIT 100"
    ),
    "t06_content_split": (
        "SELECT CASE WHEN substr(md5(text),1,1) < 'c' THEN 'train' ELSE 'val' "
        "END split, COUNT(*) c, MIN(doc_id) mn "
        "FROM documents GROUP BY 1 ORDER BY 1"
    ),
    "v01_ivf_label_topk": (
        "WITH q AS (SELECT embedding qv, label ql FROM embeddings WHERE vec_id=0) "
        "SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),"
        "CAST(qv AS DOUBLE[])),4) sim "
        "FROM embeddings, q WHERE vec_id<>0 AND label=ql "
        "ORDER BY sim DESC, vec_id LIMIT 10"
    ),
    "d07_hash_sample": (
        # '40000000' == sampling.sample_threshold(0.25); the oracle
        # embeds the identical literal so DuckDB replays the filter
        "SELECT doc_id FROM documents "
        "WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,8) < '40000000' "
        "ORDER BY doc_id LIMIT 100"
    ),
    "d08_stratified_sample": (
        "SELECT lang, doc_id FROM documents "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY lang "
        "ORDER BY substr(md5(CAST(doc_id AS VARCHAR)),1,8), doc_id) <= 5 "
        "ORDER BY lang, doc_id"
    ),
    "t07_tfidf": (
        "WITH toks AS (SELECT doc_id, "
        "unnest(list_filter(string_split(text,' '), x -> x<>'')) term "
        "FROM documents), "
        "tf AS (SELECT doc_id, term, COUNT(*) tf FROM toks GROUP BY 1,2), "
        "dfq AS (SELECT term, COUNT(DISTINCT doc_id) df FROM toks GROUP BY 1), "
        "n AS (SELECT COUNT(*) _n FROM documents) "
        "SELECT doc_id, term, tf, df, "
        "ROUND(tf * (LN((_n+1.0)/(df+1.0)) + 1.0), 6) ti "
        "FROM tf JOIN dfq USING (term), n "
        "ORDER BY ti DESC, term, doc_id LIMIT 50"
    ),
    "t08_pii_redaction": (
        "SELECT doc_id, "
        "regexp_replace(regexp_replace("
        "substr(text,1,40) || ' mail user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or https://ex.com/u/' || CAST(doc_id AS VARCHAR) || ' end', "
        r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
        "'https?://[^\\s]+', '<URL>', 'g') clean "
        "FROM documents ORDER BY doc_id LIMIT 100"
    ),
    "t09_chunking": (
        "WITH tok AS (SELECT doc_id, string_split(text, ' ') tks FROM documents), "
        "n AS (SELECT doc_id, tks, "
        "unnest(generate_series(0, CAST(CEIL(GREATEST(len(tks) - 6, 1) / 24.0) "
        "AS INT) - 1)) chunk_id FROM tok) "
        "SELECT doc_id, CAST(chunk_id AS INT) chunk_id, "
        "array_to_string(tks[chunk_id*24+1 : chunk_id*24+30], ' ') chunk_text, "
        "CAST(LEAST(len(tks) - chunk_id*24, 30) AS INT) n_tokens "
        "FROM n ORDER BY doc_id, chunk_id LIMIT 200"
    ),
    "v03_l2_normalize": (
        "WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings), "
        "n AS (SELECT vec_id, e, "
        "sqrt(list_aggregate(list_transform(e, x -> x*x),'sum')) nm FROM b) "
        "SELECT vec_id, ROUND(e[1]/nm, 6) n1, ROUND(e[2]/nm, 6) n2, "
        "ROUND(sqrt(list_aggregate(list_transform("
        "list_transform(e, x -> x/nm), x -> x*x),'sum')), 6) nrm "
        "FROM n ORDER BY vec_id LIMIT 100"
    ),
    "v04_quantize_int8": (
        "WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings), "
        "s AS (SELECT vec_id, e, "
        "127.0 / list_aggregate(list_transform(e, x -> abs(x)),'max') sc FROM b) "
        "SELECT vec_id, CAST(ROUND(e[1]*sc) AS TINYINT) q1, "
        "CAST(ROUND(e[2]*sc) AS TINYINT) q2, "
        "CAST(ROUND(e[3]*sc) AS TINYINT) q3 "
        "FROM s ORDER BY vec_id LIMIT 100"
    ),
    "v05_covariance": (
        "WITH b AS (SELECT CAST(embedding AS DOUBLE[]) e FROM embeddings) "
        "SELECT ROUND(covar_samp(e[1],e[1]),6) c11, "
        "ROUND(covar_samp(e[1],e[2]),6) c12, "
        "ROUND(covar_samp(e[2],e[2]),6) c22, "
        "ROUND(covar_samp(e[3],e[6]),6) c36 FROM b"
    ),
    "d09_dedup_keep_best": (
        "WITH g AS (SELECT md5(substr(text,1,40)) h, doc_id, n_chars "
        "FROM documents), "
        "r AS (SELECT h, doc_id, "
        "ROW_NUMBER() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id) rn, "
        "COUNT(*) OVER (PARTITION BY h) n FROM g) "
        "SELECT h, n, doc_id keep_id FROM r WHERE rn=1 AND n>1 "
        "ORDER BY h LIMIT 100"
    ),
    # DuckDB regexp_replace is first-match-only without the 'g' flag;
    # Spark's is always global — the flag keeps them identical.
    "t10_normalize_text": (
        "WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace("
        "lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) nt "
        "FROM documents) "
        "SELECT doc_id, md5(nt) nh, length(nt) ln FROM n "
        "ORDER BY doc_id LIMIT 100"
    ),
    "v08_knn_join": (
        "WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv "
        "FROM embeddings WHERE vec_id<5), "
        "s AS (SELECT qid, vec_id, "
        "ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv),4) sim "
        "FROM embeddings, q WHERE vec_id>=5), "
        "r AS (SELECT qid, vec_id, sim, "
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rn "
        "FROM s) "
        "SELECT qid, vec_id, sim, rn FROM r WHERE rn<=3 ORDER BY qid, rn"
    ),
    "d10_decontaminate": (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ws FROM documents), "
        "sh AS (SELECT doc_id, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2]) g "
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x), "
        "bad AS (SELECT DISTINCT a.doc_id FROM sh a "
        "JOIN (SELECT DISTINCT g FROM sh WHERE doc_id % 100 = 7) b USING (g) "
        "WHERE a.doc_id % 100 <> 7) "
        "SELECT doc_id FROM documents WHERE doc_id % 100 <> 7 "
        "AND doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id LIMIT 100"
    ),
    "d11_mixture_sample": (
        # thresholds are the engine's own literals (sample_threshold),
        # embedded below so DuckDB replays the identical CASE filter
        "SELECT lang, COUNT(*) c, MIN(doc_id) mn FROM documents "
        "WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,8) < "
        "CASE WHEN lang='de' THEN '{de}' WHEN lang='en' THEN '{en}' "
        "ELSE '{other}' END "
        "GROUP BY lang ORDER BY lang"
    ).format(
        en=_sample_threshold(0.6),
        de=_sample_threshold(0.3),
        other=_sample_threshold(0.1),
    ),
    "t11_repetition": (
        "WITH b AS (SELECT doc_id, "
        "list_filter(string_split(text,' '), x -> x<>'') toks, "
        "string_split(text,' ') ws FROM documents), "
        "g AS (SELECT doc_id, toks, CASE WHEN len(ws)>=3 THEN "
        "list_transform(generate_series(1, len(ws)-2), "
        "i -> concat(ws[CAST(i AS INT)],' ',ws[CAST(i AS INT)+1],' ',"
        "ws[CAST(i AS INT)+2])) ELSE [] END grams FROM b) "
        "SELECT doc_id, "
        "ROUND((len(toks)-len(list_distinct(toks)))*1.0"
        "/greatest(len(toks),1),6) rep_dup_word_frac, "
        "ROUND((len(grams)-len(list_distinct(grams)))*1.0"
        "/greatest(len(grams),1),6) rep_dup_3gram_frac, "
        "ROUND(COALESCE(list_max(list_transform(list_distinct(toks), "
        "w -> len(list_filter(toks, t -> t = w)))),0)*1.0"
        "/greatest(len(toks),1),6) rep_top_word_frac "
        "FROM g ORDER BY doc_id LIMIT 100"
    ),
    "t12_domain_distribution": (
        "WITH p AS (SELECT doc_id, substr(text,1,20) || ' https://s' || "
        "CAST(doc_id % 7 AS VARCHAR) || '.example.org/p/' || "
        "CAST(doc_id AS VARCHAR) || ' and https://s' || "
        "CAST(doc_id % 3 AS VARCHAR) || '.example.org/q ok' ptext "
        "FROM documents), "
        r"d AS (SELECT doc_id, regexp_extract_all(ptext, "
        r"'https?://([A-Za-z0-9.-]+)[^\s]*', 1) doms FROM p), "
        # "domain" is a DuckDB reserved word — quoted alias throughout
        'dc AS (SELECT "domain", COUNT(*) n_docs FROM '
        '(SELECT unnest(list_distinct(doms)) "domain" FROM d) GROUP BY 1), '
        'mc AS (SELECT "domain", COUNT(*) n_mentions FROM '
        '(SELECT unnest(doms) "domain" FROM d) GROUP BY 1) '
        'SELECT "domain", n_docs, n_mentions FROM dc JOIN mc USING ("domain") '
        'ORDER BY "domain"'
    ),
    "d13_containment_pairs": _containment_oracle(16, 4),
    "t14_length_histogram": (
        "SELECT CAST(FLOOR(len(list_filter(string_split(text,' '), "
        "x -> x<>''))/20) AS BIGINT)*20 bin, COUNT(*) c "
        "FROM documents GROUP BY 1 ORDER BY 1"
    ),
    "v10_standardize": (
        "WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e "
        "FROM embeddings), "
        "s AS (SELECT AVG(e[1]) m1, STDDEV_SAMP(e[1]) d1, "
        "AVG(e[2]) m2, STDDEV_SAMP(e[2]) d2, "
        "AVG(e[64]) m64, STDDEV_SAMP(e[64]) d64 FROM b) "
        "SELECT vec_id, ROUND((e[1]-m1)/d1,6) s1, ROUND((e[2]-m2)/d2,6) s2, "
        "ROUND((e[64]-m64)/d64,6) s64 "
        "FROM b, s ORDER BY vec_id LIMIT 100"
    ),
    "d12_quantile_buckets": (
        "WITH e AS (SELECT list_transform("
        "quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]), "
        "x -> ROUND(x, 6)) ed FROM lineitem), "
        "b AS (SELECT l_extendedprice, "
        "len(list_filter(ed, x -> x < l_extendedprice)) bucket "
        "FROM lineitem, e) "
        "SELECT bucket, COUNT(*) c, ROUND(MIN(l_extendedprice),2) mn, "
        "ROUND(MAX(l_extendedprice),2) mx "
        "FROM b GROUP BY bucket ORDER BY bucket"
    ),
    "t13_boilerplate": (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ws FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2]) g "
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x), "
        "freq AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= 3), "
        "hits AS (SELECT doc_id, COUNT(*) n_freq FROM sh "
        "WHERE g IN (SELECT g FROM freq) GROUP BY doc_id), "
        "base AS (SELECT doc_id, COUNT(*) n_grams FROM sh GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(b.n_grams,0) n_grams, "
        "COALESCE(h.n_freq,0) n_freq, "
        "ROUND(COALESCE(h.n_freq,0)*1.0/GREATEST(COALESCE(b.n_grams,0),1),6) "
        "boilerplate_frac "
        "FROM documents d LEFT JOIN base b USING (doc_id) "
        "LEFT JOIN hits h USING (doc_id) ORDER BY d.doc_id LIMIT 100"
    ),
    # v09 oracle (round 5): the fixed-iteration Lloyd twin. Seeds are
    # the 4 vectors with smallest md5(vec_id) (cluster = hash rank),
    # then exactly 3 rounds replayed by a recursive CTE over scalar
    # (it, cluster, pos, val) centroid state; assignment tie-break
    # (distance, cluster) mirrors kmeans_assign's array_position.
    # "cl" avoids the reserved word CLUSTER; output aliases match the
    # Spark side. Integer sizes are robust to centroid-mean ulps.
    # d28: plain id-ordered replay (count is orientation-invariant)
    "d28_triangle_count": (
        "WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p "
        "FROM lineitem WHERE l_partkey < 500), "
        "e AS (SELECT DISTINCT a.p x, b.p y FROM lp a "
        "JOIN lp b ON a.o = b.o AND a.p < b.p), "
        "nn AS (SELECT COUNT(*) c FROM "
        "(SELECT x n FROM e UNION SELECT y FROM e)), "
        "tri AS (SELECT COUNT(*) c FROM e e1 "
        "JOIN e e2 ON e1.y = e2.x "
        "JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y) "
        "SELECT (SELECT c FROM nn) n_nodes, "
        "(SELECT COUNT(*) FROM e) n_edges, "
        "(SELECT c FROM tri) n_triangles"
    ),
    # v18: DOUBLE[] casts as in l02; DuckDB list slice [1:16] is
    # 1-based end-inclusive = Spark slice(v, 1, 16).
    "v18_matryoshka_topk": (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv "
        "FROM embeddings WHERE vec_id=7), "
        "pre AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev, "
        "ROUND(list_cosine_similarity("
        "CAST(embedding AS DOUBLE[])[1:16], qv[1:16]),6) psim "
        "FROM embeddings, q WHERE vec_id<>7 "
        "ORDER BY psim DESC, vec_id LIMIT 50) "
        "SELECT vec_id, ROUND(list_cosine_similarity(ev, "
        "(SELECT qv FROM q)),4) sim, psim "
        "FROM pre ORDER BY sim DESC, vec_id LIMIT 10"
    ),
    # m02: replay the byte-histogram kernel char-by-char (ASCII text,
    # so char codes == utf-8 bytes); counts are exact integers.
    "m02_fake_decode_features": (
        "WITH b AS (SELECT doc_id, length(text) n, "
        "list_transform(range(1, length(text)+1), "
        "i -> ord(substr(text, i, 1)) % 8) codes FROM documents) "
        "SELECT doc_id AS media_id, CAST(n AS BIGINT) n_bytes, "
        + ", ".join(
            f"CAST(len(list_filter(codes, c -> c = {k})) AS BIGINT) c{k}"
            for k in range(8)
        )
        + " FROM b ORDER BY media_id LIMIT 100"
    ),
    # d31: arg_max(s, h), not MAX({'h':…,'s':…}).s — identical
    # semantics (the md5 key is unique per group, no tie exists),
    # but the struct-extreme aggregate state copies the VARCHAR
    # struct per update: measured 37.8 s + an out-of-memory at the
    # 100× fixture where arg_max runs the same CTE in 0.3 s.
    "d31_rendezvous_shards": (
        "WITH s8 AS (SELECT doc_id, arg_max(g.s, "
        "md5(CAST(doc_id AS VARCHAR) || '/' || CAST(g.s AS VARCHAR))) "
        "AS sh8 "
        "FROM documents, generate_series(0, 7) g(s) GROUP BY doc_id), "
        "s9 AS (SELECT doc_id, arg_max(g.s, "
        "md5(CAST(doc_id AS VARCHAR) || '/' || CAST(g.s AS VARCHAR))) "
        "AS sh9 "
        "FROM documents, generate_series(0, 8) g(s) GROUP BY doc_id) "
        "SELECT sh8 AS shard, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CASE WHEN sh9 <> sh8 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_moved "
        "FROM s8 JOIN s9 USING (doc_id) GROUP BY sh8 ORDER BY sh8"
    ),
    "v20_hits_authority": (
        # the directed-adjacency expansion (e2) keeps the recursive
        # join a pure (side, src) equi-join — hashable, so the CTE
        # stays hash-join-bound at any edge count (a key computed
        # from BOTH sides degrades to a nested loop: 47x slower at
        # the 10x fixture, unusable at 100x)
        "WITH RECURSIVE "
        "e AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem "
        "WHERE l_partkey < 500), "
        "e2 AS (SELECT 'h' side, o src, p dst FROM e "
        "UNION ALL SELECT 'a' side, p src, o dst FROM e), "
        "st(it, side, id, v) AS ("
        "SELECT 0, 'h', o, CAST(1 AS BIGINT) FROM "
        "(SELECT DISTINCT o FROM e) "
        "UNION ALL "
        "SELECT it + 1, CASE WHEN st.side = 'h' THEN 'a' ELSE 'h' END, "
        "e2.dst, CAST(SUM(v) AS BIGINT) "
        "FROM st JOIN e2 ON e2.side = st.side AND e2.src = st.id "
        "WHERE it < 5 GROUP BY 1, 2, 3) "
        "SELECT id AS part, v AS auth FROM st WHERE it = 5 "
        "ORDER BY auth DESC, part LIMIT 50"
    ),
    # d32: replay the hashed-bigram DSIR weights; DuckDB 1-based
    # list indexing for the bigram build (the d24 convention),
    # md5-prefix string buckets, Laplace-smoothed LN ratio.
    "d32_dsir_importance": (
        "WITH t AS (SELECT doc_id, lang = 'en' tgt, "
        "string_split(text,' ') ws FROM documents), "
        "g AS (SELECT doc_id, tgt, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1]) g "
        "FROM (SELECT doc_id, tgt, ws, "
        "unnest(generate_series(1, len(ws)-1)) i "
        "FROM t WHERE len(ws)>=2) x), "
        "cnt AS (SELECT doc_id, tgt, substr(md5(g),1,2) bk, COUNT(*) c "
        "FROM g GROUP BY doc_id, tgt, bk), "
        "lut AS (SELECT bk, SUM(c) raw_c, "
        "SUM(CASE WHEN tgt THEN c ELSE 0 END) tc FROM cnt GROUP BY bk), "
        "tot AS (SELECT CAST(SUM(raw_c) AS DOUBLE) rt, "
        "CAST(SUM(tc) AS DOUBLE) tt FROM lut), "
        "w AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) n_grams, "
        "SUM(c * (LN((tc+1.0)/(tt+256.0)) - LN((raw_c+1.0)/(rt+256.0)))) "
        "/ SUM(c) s FROM cnt JOIN lut USING (bk), tot GROUP BY doc_id) "
        "SELECT doc_id, n_grams, ROUND(s, 6) dsir_logratio FROM w "
        "ORDER BY dsir_logratio DESC, doc_id LIMIT 100"
    ),
    # d36: distinct (source, gram) then one gram-key join; bounded
    # |sources|^2 output.
    "d36_source_overlap": (
        "WITH t AS (SELECT source, string_split(text,' ') ws "
        "FROM documents), "
        "sg AS (SELECT DISTINCT source, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1],' ',ws[CAST(i AS INT)+2]) g "
        "FROM (SELECT source, ws, unnest(generate_series(1, len(ws)-2)) i "
        "FROM t WHERE len(ws)>=3) x), "
        "tot AS (SELECT source, COUNT(*) n_grams FROM sg GROUP BY source), "
        "hits AS (SELECT a.source src_a, b.source src_b, COUNT(*) shared "
        "FROM sg a JOIN sg b ON a.g = b.g AND a.source <> b.source "
        "GROUP BY src_a, src_b) "
        "SELECT src_a, src_b, shared, "
        "ROUND(shared * 1.0 / n_grams, 6) overlap "
        "FROM hits JOIN tot ON tot.source = hits.src_a "
        "ORDER BY overlap DESC, src_a, src_b LIMIT 20"
    ),
    # t25: exact heavy-hitter counts replayed; the CMS contract
    # booleans must be TRUE (the r81/v07 attestation pattern).
    # tok <> '' mirrors the Spark side's tokens_ws, which drops
    # empty strings from consecutive spaces (ADVICE r5 item 3).
    "t25_cms_heavy_hitters": (
        "WITH tok0 AS (SELECT unnest(string_split(text,' ')) tok "
        "FROM documents), "
        "tok AS (SELECT tok FROM tok0 WHERE tok <> ''), "
        "top AS (SELECT tok, COUNT(*) n FROM tok GROUP BY tok "
        "ORDER BY n DESC, tok LIMIT 10) "
        "SELECT tok, n, TRUE never_under, TRUE within_eps FROM top "
        "ORDER BY n DESC, tok"
    ),
    # d35: the Bloom filter replayed bit-for-bit — same md5-salted
    # bit family, same 32-bit bit_or words, same pow-of-two bit
    # test; a missing word (no bits set) coalesces to 0.
    "d35_bloom_gate": (
        "WITH s(j) AS (VALUES (0), (1), (2)), "
        "m AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0), "
        "mbits AS (SELECT (('0x'||substr(md5(j::VARCHAR||'|'||"
        "doc_id::VARCHAR),1,8))::BIGINT) % 256 bt FROM m, s), "
        "words AS (SELECT bt // 32 w, "
        "bit_or(CAST(pow(2, bt % 32) AS BIGINT)) v "
        "FROM mbits GROUP BY 1), "
        "pbits AS (SELECT d.doc_id, d.doc_id % 3 <> 0 is_member, "
        "(('0x'||substr(md5(j::VARCHAR||'|'||d.doc_id::VARCHAR),1,8))"
        "::BIGINT) % 256 bt FROM documents d, s), "
        "probe AS (SELECT doc_id, is_member, "
        "bool_and(CAST(floor(COALESCE(w.v, 0) / pow(2, bt % 32)) "
        "AS BIGINT) % 2 = 1) hit "
        "FROM pbits LEFT JOIN words w ON w.w = bt // 32 "
        "GROUP BY doc_id, is_member) "
        "SELECT is_member, hit bloom_hit, COUNT(*) n FROM probe "
        "GROUP BY is_member, hit ORDER BY is_member, bloom_hit"
    ),
    # v23: sign words replayed via ordinal unnest + exact integer
    # shifts (same values as the Spark Horner fold); Hamming cut on
    # integers, cosine re-rank round-4. x > 0 on DOUBLE casts so the
    # sign test sees identical values on both engines.
    "v23_sign_hamming": (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev "
        "FROM embeddings), "
        "u AS (SELECT vec_id, unnest(ev) x, generate_subscripts(ev,1) i "
        "FROM e), "
        "w AS (SELECT vec_id, "
        "CAST(SUM(CASE WHEN i<=32 AND x>0 THEN (1::BIGINT << (i-1)) "
        "ELSE 0 END) AS BIGINT) w0, "
        "CAST(SUM(CASE WHEN i>32 AND x>0 THEN (1::BIGINT << (i-33)) "
        "ELSE 0 END) AS BIGINT) w1 FROM u GROUP BY vec_id), "
        "q AS (SELECT w0 q0, w1 q1 FROM w WHERE vec_id=7), "
        "qe AS (SELECT ev qv FROM e WHERE vec_id=7), "
        "h AS (SELECT vec_id, CAST(bit_count(xor(w0,q0)) "
        "+ bit_count(xor(w1,q1)) AS INT) ham FROM w, q WHERE vec_id<>7), "
        "short AS (SELECT vec_id, ham FROM h ORDER BY ham, vec_id "
        "LIMIT 20) "
        "SELECT s.vec_id, s.ham, ROUND(list_cosine_similarity(e.ev, "
        "(SELECT qv FROM qe)),4) sim FROM short s "
        "JOIN e ON e.vec_id = s.vec_id "
        "ORDER BY sim DESC, s.vec_id LIMIT 5"
    ),
    # d34: window cumsum quota replay; len(string_split) == Spark
    # size(split) on this corpus (no empty-token drift: single-space
    # separated text).
    "d34_token_budget": (
        "WITH d AS (SELECT lang, n_chars, doc_id, "
        "CAST(len(string_split(text,' ')) AS BIGINT) tok FROM documents), "
        "c AS (SELECT lang, tok, SUM(tok) OVER "
        "(PARTITION BY lang ORDER BY n_chars DESC, doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cw FROM d) "
        "SELECT lang, COUNT(*) n_kept, "
        "CAST(SUM(tok) AS BIGINT) tokens_kept, "
        "CAST(MAX(cw) AS BIGINT) budget_used "
        "FROM c WHERE cw <= 500 GROUP BY lang ORDER BY lang"
    ),
    # m03: replay the sampled-frame byte sums char-by-char (ASCII,
    # the m02 precedent); generate_series with step 4 = the sampler.
    # m11: full frame-sum replay (the m03 character arithmetic,
    # every frame), the identical LAG window, and the identical
    # integer cross-multiplied boundary rule — all BIGINT, no
    # ROUND cells anywhere.
    "m11_shot_boundaries": (
        "WITH b AS (SELECT doc_id media_id, text, length(text) n, "
        "CAST(ceil(length(text)/32.0) AS INT) nf FROM documents "
        "WHERE doc_id < 5000), "
        "s AS (SELECT media_id, text, n, nf, "
        "unnest(generate_series(0, nf-1, 1)) fi FROM b WHERE nf > 0), "
        "f AS (SELECT media_id, fi, LEAST(32, n - fi*32) flen, "
        "list_sum(list_transform(range(CAST(fi*32+1 AS INT), "
        "CAST(fi*32 + LEAST(32, n - fi*32) + 1 AS INT)), "
        "x -> ord(substr(text, x, 1)))) fsum FROM s), "
        "l AS (SELECT media_id, fi, flen, fsum, "
        "LAG(fsum) OVER (PARTITION BY media_id ORDER BY fi) psum, "
        "LAG(flen) OVER (PARTITION BY media_id ORDER BY fi) plen "
        "FROM f), "
        "j AS (SELECT media_id, fi, CASE WHEN psum IS NULL THEN 0 "
        "WHEN ABS(fsum*plen - psum*flen) > 8*flen*plen THEN 1 "
        "ELSE 0 END bnd FROM l) "
        "SELECT media_id, CAST(COUNT(*) AS BIGINT) n_frames, "
        "CAST(SUM(bnd) AS BIGINT) n_boundaries, "
        "CAST(COALESCE(MIN(CASE WHEN bnd = 1 THEN fi END), -1) "
        "AS BIGINT) first_boundary_idx "
        "FROM j GROUP BY 1 ORDER BY 1"
    ),
    "m03_frame_features": (
        "WITH b AS (SELECT doc_id media_id, text, length(text) n, "
        "CAST(ceil(length(text)/32.0) AS INT) nf FROM documents), "
        "s AS (SELECT media_id, text, n, nf, "
        "unnest(generate_series(0, nf-1, 4)) fi FROM b WHERE nf > 0) "
        "SELECT media_id, CAST(fi AS INT) frame_idx, nf n_frames, "
        "CAST(LEAST(32, n - fi*32) AS INT) frame_len, "
        "CAST(list_sum(list_transform(range(CAST(fi*32+1 AS INT), "
        "CAST(fi*32 + LEAST(32, n - fi*32) + 1 AS INT)), "
        "x -> ord(substr(text, x, 1)))) AS BIGINT) frame_sum "
        "FROM s ORDER BY media_id, frame_idx LIMIT 200"
    ),
    # v22: greedy MMR as a recursive CTE — the selected set rides an
    # id-list column; each step appends the argmax of
    # 0.7*qsim - 0.3*max(sim to selected) over round-6 values with
    # vec_id tie-break (exactly mmr_rerank's driver loop). Both
    # directions live in pw, so MAX(p.s) needs no least/greatest.
    "v22_mmr_rerank": (
        "WITH RECURSIVE "
        "qv AS (SELECT CAST(embedding AS DOUBLE[]) v FROM embeddings "
        "WHERE vec_id=7), "
        "cand AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev, "
        "ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
        "(SELECT v FROM qv)),6) qsim FROM embeddings WHERE vec_id<>7 "
        "ORDER BY qsim DESC, vec_id LIMIT 20), "
        "pw AS (SELECT a.vec_id i, b.vec_id j, "
        "ROUND(list_cosine_similarity(a.ev,b.ev),6) s "
        "FROM cand a JOIN cand b ON a.vec_id <> b.vec_id), "
        "sel(it, ids) AS ("
        "SELECT 1, [(SELECT vec_id FROM cand "
        "ORDER BY qsim DESC, vec_id LIMIT 1)] "
        "UNION ALL "
        "SELECT it+1, list_append(ids, ("
        "SELECT c.vec_id FROM cand c "
        "WHERE NOT list_contains(sel.ids, c.vec_id) "
        "ORDER BY 0.7*c.qsim - 0.3*(SELECT MAX(p.s) FROM pw p "
        "WHERE p.i=c.vec_id AND list_contains(sel.ids, p.j)) DESC, "
        "c.vec_id LIMIT 1)) FROM sel WHERE it < 5), "
        "fin AS (SELECT ids FROM sel WHERE it = 5) "
        "SELECT CAST(u.ord AS BIGINT) rank, u.id AS vec_id, c.qsim "
        "FROM (SELECT unnest(ids) id, generate_subscripts(ids, 1) ord "
        "FROM fin) u JOIN cand c ON c.vec_id = u.id ORDER BY rank"
    ),
    # d33: blocking + levenshtein verify replay. The flood guard
    # (block size <= 10000) now mirrors the Spark side's max_block
    # via QUALIFY — vacuous at test SFs (max block 3 at sf0.01) but
    # keeps both engines agreeing at ANY SF (ADVICE r5 item 2).
    "d33_fuzzy_blocked": (
        "WITH b AS (SELECT doc_id, lang, substr(text,1,40) pfx, "
        "string_split(text,' ')[1] w1, "
        "CAST(floor(length(text)/32) AS INT) lb FROM documents "
        "QUALIFY COUNT(*) OVER (PARTITION BY lang, w1, lb) <= 10000) "
        "SELECT a.doc_id i, c.doc_id j, "
        "CAST(levenshtein(a.pfx, c.pfx) AS BIGINT) dist "
        "FROM b a JOIN b c ON a.lang = c.lang AND a.w1 = c.w1 "
        "AND a.lb = c.lb AND a.doc_id < c.doc_id "
        "WHERE levenshtein(a.pfx, c.pfx) <= 20 "
        "ORDER BY dist, i, j LIMIT 100"
    ),
    # t23: bigram add-one LM replay; context counts derive from the
    # bigram table (first word of the gram), V = COUNT(*) of contexts.
    "t23_bigram_nll": (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ws "
        "FROM documents), "
        "g AS (SELECT doc_id, concat(ws[CAST(i AS INT)],' ',"
        "ws[CAST(i AS INT)+1]) g "
        "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) i "
        "FROM t WHERE len(ws)>=2) x), "
        "cnt AS (SELECT doc_id, g, COUNT(*) c FROM g GROUP BY doc_id, g), "
        "big AS (SELECT g, SUM(c) bc FROM cnt GROUP BY g), "
        "ctx AS (SELECT string_split(g,' ')[1] w1, SUM(bc) cc "
        "FROM big GROUP BY w1), "
        "v AS (SELECT CAST(COUNT(*) AS DOUBLE) v FROM ctx) "
        "SELECT doc_id, CAST(SUM(c) AS BIGINT) n_bigrams, "
        "ROUND(-SUM(c * LN((bc+1.0)/(cc+v))) / SUM(c), 4) nll "
        "FROM cnt JOIN big USING (g), v "
        "JOIN ctx ON ctx.w1 = string_split(g,' ')[1] "
        "GROUP BY doc_id ORDER BY doc_id LIMIT 100"
    ),
    # v21: bounded multi-source BFS as a recursive CTE; UNION
    # (distinct) bounds the frontier, hops < 3 bounds the depth, and
    # MIN(hops) per node replays bfs_hops' fixed-round min-agg.
    # Integer-exact end to end.
    "v21_bfs_hops": (
        "WITH RECURSIVE "
        "lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem "
        "WHERE l_partkey < 500), "
        "e0 AS (SELECT DISTINCT a.p x, b.p y FROM lp a "
        "JOIN lp b ON a.o = b.o AND a.p < b.p), "
        "e AS (SELECT x a, y b FROM e0 UNION ALL SELECT y, x FROM e0), "
        "seeds AS (SELECT DISTINCT a n FROM e WHERE a < 20), "
        "walk(node, hops) AS ("
        "SELECT n, 0 FROM seeds "
        "UNION "
        "SELECT e.b, walk.hops + 1 FROM walk "
        "JOIN e ON e.a = walk.node WHERE walk.hops < 3), "
        "d AS (SELECT node, MIN(hops) hops FROM walk GROUP BY node) "
        "SELECT hops, COUNT(*) n_nodes FROM d GROUP BY hops ORDER BY hops"
    ),
    "v19_knn_communities": (
        "WITH RECURSIVE "
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev "
        "FROM embeddings WHERE vec_id < 500), "
        "s AS (SELECT a.vec_id i, b.vec_id j, "
        "ROUND(list_cosine_similarity(a.ev, b.ev), 4) sim "
        "FROM v a JOIN v b ON a.vec_id <> b.vec_id), "
        "k AS (SELECT i, j FROM (SELECT i, j, row_number() OVER "
        "(PARTITION BY i ORDER BY sim DESC, j) rn FROM s) WHERE rn <= 3), "
        "e AS (SELECT DISTINCT i, j FROM "
        "(SELECT i, j FROM k UNION ALL SELECT j, i FROM k)), "
        "lab(it, node, label) AS ("
        "SELECT 0, i, i FROM (SELECT DISTINCT i FROM e) "
        "UNION ALL "
        "SELECT it, node, label FROM ("
        "SELECT q.it, q.node, q.label, row_number() OVER "
        "(PARTITION BY q.it, q.node ORDER BY q.c DESC, q.label) rn FROM ("
        "SELECT l.it + 1 it, e.i node, l.label, COUNT(*) c "
        "FROM lab l JOIN e ON e.j = l.node WHERE l.it < 5 "
        "GROUP BY l.it, e.i, l.label) q) z WHERE rn = 1) "
        "SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM lab WHERE it = 5 GROUP BY label HAVING COUNT(*) >= 2 "
        "ORDER BY n DESC, community LIMIT 100"
    ),
    "d29_temperature_mixture": (
        "WITH c AS (SELECT source, COUNT(*) AS n_total FROM documents "
        "GROUP BY source), "
        "k AS (SELECT d.source, d.doc_id FROM documents d JOIN c "
        "USING (source) "
        "WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),1,8))::BIGINT "
        "< LEAST(CAST(1.0 AS DOUBLE), CAST(20.0 AS DOUBLE)/sqrt(n_total)) "
        "* 4294967296.0) "
        "SELECT c.source, c.n_total, "
        "CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept, "
        "CAST(COALESCE(SUM(k.doc_id),0) AS BIGINT) AS id_sum "
        "FROM c LEFT JOIN k ON c.source = k.source "
        "GROUP BY c.source, c.n_total ORDER BY c.source"
    ),
    "d30_domain_cap": (
        "SELECT source, doc_id, n_chars FROM ("
        "SELECT source, doc_id, n_chars, ROW_NUMBER() OVER "
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) rn "
        "FROM documents) WHERE rn <= 25 ORDER BY source, doc_id"
    ),
    "t22_winsorize": (
        "WITH c AS (SELECT lang, n_chars, COUNT(*) AS cnt FROM documents "
        "GROUP BY lang, n_chars), "
        "cum AS (SELECT lang, n_chars, "
        "SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars "
        "ROWS UNBOUNDED PRECEDING) cum, "
        "SUM(cnt) OVER (PARTITION BY lang) n FROM c), "
        "e AS (SELECT lang, "
        "MIN(CASE WHEN cum >= CAST(0.05 AS DOUBLE) * n THEN n_chars END) lo, "
        "MIN(CASE WHEN cum >= CAST(0.95 AS DOUBLE) * n THEN n_chars END) hi "
        "FROM cum GROUP BY lang) "
        "SELECT d.lang, MIN(e.lo) AS lo, MIN(e.hi) AS hi, "
        "CAST(SUM(CASE WHEN d.n_chars < e.lo THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_below, "
        "CAST(SUM(CASE WHEN d.n_chars > e.hi THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_above, "
        "CAST(SUM(LEAST(GREATEST(d.n_chars, e.lo), e.hi)) AS BIGINT) "
        "AS sum_wins "
        "FROM documents d JOIN e USING (lang) "
        "GROUP BY d.lang ORDER BY d.lang"
    ),
    "d26_leakage_free_split": (
        "WITH f AS (SELECT doc_id, md5(array_to_string("
        "list_sort(list_distinct(list_filter(string_split(text,' '), "
        "x -> x<>''))),' ')) fp FROM documents), "
        "s AS (SELECT fp, CASE "
        "WHEN substr(md5(fp),1,8) < 'cccccccc' THEN 'train' "
        "WHEN substr(md5(fp),1,8) < 'e6666666' THEN 'val' "
        "ELSE 'test' END split FROM f) "
        "SELECT split, COUNT(*) n_docs, COUNT(DISTINCT fp) n_groups "
        "FROM s GROUP BY split ORDER BY split"
    ),
    "d27_shelf_packing": (
        "WITH tk AS (SELECT source, doc_id, "
        "len(list_filter(string_split(text,' '), x -> x<>'')) n_tok "
        "FROM documents), "
        "c AS (SELECT source, doc_id, n_tok, "
        "SUM(n_tok) OVER (PARTITION BY source "
        "ORDER BY n_tok DESC, doc_id ROWS UNBOUNDED PRECEDING) cum "
        "FROM tk) "
        "SELECT source, CAST(FLOOR((cum - n_tok)/64.0) AS INT) shelf, "
        "COUNT(*) n_docs, CAST(SUM(n_tok) AS BIGINT) tok "
        "FROM c GROUP BY 1, 2 ORDER BY source, shelf LIMIT 100"
    ),
    "v09_ivf_kmeans": (
        "WITH RECURSIVE "
        "ex AS (SELECT vec_id, generate_subscripts(embedding, 1) pos, "
        "CAST(unnest(embedding) AS DOUBLE) v FROM embeddings), "
        "seed AS (SELECT vec_id, CAST(row_number() OVER "
        "(ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INT) cl "
        "FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 4), "
        "cents(it, cl, pos, v) AS ("
        "SELECT 0, s.cl, ex.pos, ex.v FROM seed s JOIN ex USING (vec_id) "
        "UNION ALL "
        "SELECT it + 1, cl, pos, AVG(mv) FROM ("
        "SELECT a.it, a.cl, m.pos, m.v mv FROM ("
        "SELECT it, vec_id, cl, row_number() OVER "
        "(PARTITION BY it, vec_id ORDER BY d, cl) rn FROM ("
        "SELECT c.it, e.vec_id, c.cl, SUM((e.v - c.v)*(e.v - c.v)) d "
        "FROM cents c JOIN ex e USING (pos) WHERE c.it < 3 "
        "GROUP BY c.it, e.vec_id, c.cl) dd) a "
        "JOIN ex m ON m.vec_id = a.vec_id WHERE a.rn = 1) upd "
        "GROUP BY it, cl, pos), "
        "fd AS (SELECT c.it, e.vec_id, c.cl, "
        "SUM((e.v - c.v)*(e.v - c.v)) d "
        "FROM cents c JOIN ex e USING (pos) WHERE c.it = 3 "
        "GROUP BY c.it, e.vec_id, c.cl), "
        "fa AS (SELECT vec_id, cl FROM (SELECT vec_id, cl, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) rn "
        "FROM fd) WHERE rn = 1) "
        'SELECT cl AS "cluster", COUNT(*) n FROM fa '
        "GROUP BY cl ORDER BY cl"
    ),
    # t04, v02, v06 carry oracles (declared post-r3); v07 is checked
    # against its exact-distinct twin inside the entry itself.
    "v07_hll_rollup": (
        'SELECT CAST(date_trunc(\'week\', CAST(ts AS DATE)) AS DATE) "week", '
        "COUNT(DISTINCT user_id) exact_distinct, "
        "TRUE within_envelope "
        'FROM events GROUP BY 1 ORDER BY "week"'
    ),
    "v13_pq_codes": _pq_oracle(),
    "v14_adc_scoring": _adc_oracle(),
    "d20_incremental_dedup": (
        "WITH f AS (SELECT doc_id, source, md5(array_to_string("
        "list_sort(list_distinct(list_filter(string_split(text,' '), "
        "x -> x<>''))),' ')) fp FROM documents), "
        "new AS (SELECT * FROM f WHERE doc_id % 3 = 0), "
        "old AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 <> 0) "
        "SELECT source, COUNT(*) n_new, "
        "CAST(SUM(CASE WHEN fp IN (SELECT fp FROM old) THEN 0 ELSE 1 "
        "END) AS BIGINT) n_kept "
        "FROM new GROUP BY source ORDER BY source"
    ),
    "v15_rank_normalize": (
        "WITH ex AS (SELECT vec_id, generate_subscripts(v, 1) - 1 p, "
        "unnest(v) x FROM (SELECT vec_id, "
        "CAST(embedding AS DOUBLE[]) v FROM embeddings)) "
        "SELECT vec_id, p pos, "
        "ROUND(PERCENT_RANK() OVER (PARTITION BY p ORDER BY x), 6) r "
        "FROM ex WHERE p < 4 "
        "ORDER BY vec_id, pos LIMIT 200"
    ),
    "t20_unigram_ppl": (
        "WITH ex AS (SELECT doc_id, unnest(list_filter("
        "string_split(text,' '), x -> x<>'')) tk FROM documents), "
        "cnt AS (SELECT doc_id, tk, COUNT(*) c FROM ex GROUP BY 1, 2), "
        "vocab AS (SELECT tk, SUM(c) vc FROM cnt GROUP BY tk), "
        "tot AS (SELECT CAST(SUM(vc) AS DOUBLE) t FROM vocab) "
        "SELECT doc_id, CAST(SUM(c) AS BIGINT) n_tokens, "
        "ROUND(EXP(-SUM(c * LN(vc / t)) / SUM(c)), 4) ppl "
        "FROM cnt JOIN vocab USING (tk) CROSS JOIN tot "
        "GROUP BY doc_id ORDER BY doc_id LIMIT 100"
    ),
}
