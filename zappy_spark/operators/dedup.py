"""Deduplication operators for large-scale text corpora.

Four families, all engine-portable and deterministic (no engine-
specific hash functions — every hash is md5-over-string, so DuckDB
oracles can replay them exactly):

- exact        : content-hash group-by (one shuffle on the hash key)
- MinHash LSH  : shingle → K min-hashes → bands → bucket join
- SimHash      : per-bit majority vote over token hashes
- n-gram Jaccard: exact set similarity (verification / re-rank stage)

Scale design (100 TB):
- Exact dedup is a single hash-partitioned aggregation; the key is
  md5(text) (128-bit), so collisions are negligible and the shuffle
  carries only (hash, id) pairs after partial aggregation.
- MinHash signatures are computed scan-side (one pass, no shuffle);
  the LSH bucket join shuffles on band keys whose cardinality grows
  with corpus size, keeping partitions balanced. Candidate pairs are
  then verified with exact Jaccard — the classic
  generate-and-verify split, so the O(n²) step only runs inside
  buckets.
- All lambdas are Catalyst HigherOrderFunctions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts; returns (h, keep, n) with the smallest
    id as the kept representative."""
    return (
        df.groupBy(F.md5(text_col).alias("h"))
        .agg(F.min(id_col).alias("keep"), F.count("*").alias("n"))
    )


def drop_exact_dups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Materializing form: keep one row per distinct text."""
    keep = exact_dedup(df, text_col, id_col).select(
        F.col("keep").alias("_keep_id")
    )
    return df.join(keep, F.col(id_col) == F.col("_keep_id"), "left_semi")


def dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Quality-aware exact dedup: within each identical-content group
    keep the HIGHEST-quality member (ties → smallest id), not the
    arbitrary min-id one — the canonical-document selection step of a
    corpus pipeline, where near-identical crawls differ in boilerplate
    quality.

    Returns one row per group: (h, n, keep) — content hash, group
    size, kept id. Spelled as ONE hash aggregate with ``max_by`` over
    a (quality, -id) struct rather than a window: partial aggregation
    runs map-side before the md5-keyed shuffle, so only one row per
    (partition, hash) moves — strictly cheaper than the
    window-function spelling at 100 TB. The struct makes the argmax
    key unique, so the result is deterministic."""
    keep_key = F.struct(
        F.col(quality_col).alias("q"), (-F.col(id_col)).alias("negid")
    )
    return df.groupBy(F.md5(text_col).alias("h")).agg(
        F.count("*").alias("n"),
        F.max_by(F.col(id_col), keep_key).alias("keep"),
    )


def word_shingles(
    text_col: str | Column, k: int = 3, filter_empty: bool = False
) -> Column:
    """Word k-gram shingle array (documents with < k words yield
    an empty array — callers filter, because NULL-in-concat semantics
    differ across engines).

    ``filter_empty=True`` drops the empty tokens a raw space-split
    produces on consecutive/leading/trailing spaces — the spelling
    that pairs with a DuckDB ``list_filter(string_split(...), x ->
    x<>'')`` oracle (d40/d42/t30). The default keeps them, pairing
    with a raw ``string_split`` oracle; each corpus entry's two
    sides must pick the SAME convention (round-8 ADVICE: d42/t30
    had filtered oracles over an unfiltered builder — latent only
    because no fixture text had repeated spaces).

    Execution shape (round 12, guide §4.1/§1): higher-order
    functions are interpreted (CodegenFallback), and interpreted
    eval has no common-subexpression cache — an ``element_at(ws,
    i+j)`` whose ``ws`` is the raw ``split(...)`` expression
    re-runs the split on every element access: k splits per
    shingle, O(words²) per document. The fix is a let-binding:
    wrap the split array in a 1-element array and bind it as a
    lambda variable (``element_at(transform(array(ws), λw. …), 1)``)
    so the split is evaluated once per row and every
    ``element_at`` reads the bound value. Same functions, same
    order, bit-identical output (measured r12: the d02 chain
    11.3 s → 1.5 s, d04 14.2 s → 2.0 s at sf0.1)."""
    ws = F.split(text_col, " ")
    if filter_empty:
        ws = F.filter(ws, lambda x: x != "")

    def shingle(w: Column) -> Column:
        n = F.size(w) - (k - 1)
        return F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(w, i + j) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(ws), shingle), 1)


def minhash_signature_from_grams(
    grams: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """MinHash signatures from a precomputed (id, grams ARRAY<STRING>)
    frame — THE single definition of the hash family:
    h_i(g) = md5(i || '|' || g), compared lexicographically. md5 is
    uniform, so the min over a keyed-salt family is a valid
    permutation-min approximation, and portable: any engine with md5
    reproduces it bit-for-bit (the DuckDB oracle replays it)."""
    g = grams.select(
        F.col(id_col), F.explode("grams").alias("g")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("g")))).alias(f"_s{i}")
        for i in range(num_hashes)
    ]
    sig = g.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[f"_s{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_signature(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """MinHash signature per document (shingles computed inline).

    Output: (id_col, sig ARRAY<STRING>[num_hashes]).
    Single scan-side pass: shingle expansion and all mins happen in
    one groupBy(id) after an explode — the shuffle key is the doc id.
    """
    grams = df.select(
        F.col(id_col), word_shingles(F.col(text_col), k).alias("grams")
    )
    return minhash_signature_from_grams(grams, id_col, num_hashes)


def auto_max_bucket(
    banded: DataFrame,
    min_cap: int = 32,
    body_q: float = 0.99,
    slack: int = 8,
) -> int:
    """Pick the LSH flood-guard cap FROM THE DATA instead of a
    caller-supplied constant (VERDICT r5 item 7): one aggregate over
    the banded keys yields the bucket-size distribution; the cap is
    ``max(min_cap, slack × q_{body_q})`` — far above every bucket a
    genuine fuzzy near-dup pair can occupy (those sit at the
    distribution's body, single digits on real corpora), and far
    below a mass-clone family's bucket (thousands of members).
    The anchor is deliberately a BODY quantile, not a tail one: a
    flood family concentrates in a handful of buckets (a vanishing
    fraction of all bucket KEYS, since the band key space is md5),
    so q99-of-buckets sits on ordinary buckets while a tail quantile
    like q99.9 can land inside the flood itself and learn a cap that
    never binds (caught by the planted-flood property test). If
    floods ever occupied >1% of distinct buckets the corpus would be
    mostly clones — exact/fingerprint dedup territory, per the
    routing note in ``lsh_candidate_pairs``.

    Cost: one (bucket, count) shuffle + an exact quantile
    (approxQuantile with relativeError=0) — the same diagnostic
    pass operators/diagnostics.py::key_skew_report runs, returning
    ONE scalar to the driver. Deterministic: exact quantile of
    integer counts, integer arithmetic on top.
    """
    counts = banded.groupBy("bucket").agg(
        F.count("*").cast("double").alias("_n")
    )
    q = counts.approxQuantile("_n", [body_q], 0.0)
    if not q:  # empty input: no buckets, cap is moot
        return min_cap
    return max(min_cap, int(slack * q[0]))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int | str | None = None,
    persist: bool = True,
) -> DataFrame:
    """Band the signatures and bucket-join: docs agreeing on all
    ``rows`` hashes of any band become a candidate pair (i < j).

    The band key is md5(band_id || joined rows) — high-cardinality,
    so the shuffle is balanced; identical pairs found via multiple
    bands are deduplicated.

    ``max_bucket`` (production knob; None preserves exact oracle
    semantics): buckets with more members are dropped BEFORE the
    self-join. A mass-duplicated family (boilerplate, mirrored
    sites, replicated shards) floods its buckets and makes the
    verify stage quadratic in the family size — the round-4b 100×
    fixture demonstrated this live. Such families are exact or
    near-exact clones; route them through md5/fingerprint dedup
    first, and let LSH spend its verify budget on genuine fuzzy
    pairs. Same df-cap philosophy as ``span_edges``/the anchor
    index. Pass ``max_bucket="auto"`` to derive the cap from the
    bucket-size distribution (``auto_max_bucket``) instead of
    guessing a constant."""
    if rows < 1:
        raise ValueError(f"rows per band must be >= 1, got {rows}")
    if isinstance(max_bucket, str) and max_bucket != "auto":
        # fail HERE, not as an opaque cast error deep in the plan
        # when the string reaches `_n <= max_bucket`
        raise ValueError(
            f"max_bucket must be an int, None, or 'auto'; got "
            f"{max_bucket!r}"
        )
    banded = sig_df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(str(b)),
                            *[
                                F.element_at("sig", b * rows + r + 1)
                                for r in range(rows)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    # r12 (guide §5): the banded frame feeds BOTH self-join sides,
    # plus the bucket-size agg / auto-cap quantile when a flood
    # guard is set — each consumer otherwise re-runs the whole
    # num_hashes-way MinHash aggregation upstream. Narrow
    # (id, bucket) rows; MEMORY_AND_DISK spills gracefully.
    # ``persist=False`` keeps the plan fully lazy (the
    # near_dup_pairs contract, plan-pinned in test_plans).
    if persist:
        banded = banded.localCheckpoint(eager=False)
    if max_bucket is not None:
        if max_bucket == "auto":
            max_bucket = auto_max_bucket(banded)
        small = (
            banded.groupBy("bucket")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("bucket")
        )
        banded = banded.join(small, "bucket")
    other = banded.select(
        F.col("_id").alias("_id2"), F.col("bucket").alias("bucket2")
    )
    return (
        banded.join(
            other,
            (F.col("bucket") == F.col("bucket2"))
            & (F.col("_id") < F.col("_id2")),
        )
        .select(F.col("_id").alias("i"), F.col("_id2").alias("j"))
        .distinct()
    )


def ngram_jaccard(
    a_grams: Column | str, b_grams: Column | str
) -> Column:
    """Exact Jaccard over two shingle arrays (distinct semantics)."""
    da = F.array_distinct(a_grams)
    db = F.array_distinct(b_grams)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    union = F.size(F.array_union(da, db)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    persist: bool = True,
    max_bucket: int | str | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded bucket
    join → exact-Jaccard verification ≥ threshold. Returns (i, j, jac).
    ``max_bucket`` forwards to ``lsh_candidate_pairs`` — the flood
    guard for mass-duplicated families (see there); ``"auto"``
    derives the cap from the bucket-size distribution.

    The shingle expansion (``grams``) feeds three consumers — the
    signature aggregation and both sides of the verify join — so it is
    lazily local-checkpointed (MEMORY_AND_DISK) by default: one
    scan+shingle pass instead of three, which at real scale is the
    difference between reading the corpus once and three times. The
    blocks live as long as any frame derived from the result (an
    ``orderBy``/``limit`` on top included) and Spark's ContextCleaner
    frees them once that plan is garbage-collected; like every
    localCheckpoint they are not recomputed after executor loss.
    Pass ``persist=False`` to keep the plan fully lazy (e.g. when the
    caller checkpoints grams itself)."""
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}); "
            "otherwise trailing hashes are silently unused"
        )
    rows = num_hashes // bands
    grams = df.select(
        F.col(id_col).alias("_gid"),
        word_shingles(F.col(text_col), k).alias("grams"),
    ).filter(F.size("grams") > 0)
    if persist:
        grams = grams.localCheckpoint(eager=False)
    sig = minhash_signature_from_grams(
        grams.select(F.col("_gid").alias(id_col), "grams"), id_col, num_hashes
    )
    cand = lsh_candidate_pairs(
        sig, id_col, bands, rows, max_bucket, persist=persist
    )
    # Exploded-gram verify (same rationale as containment_pairs):
    # narrow (doc, gram) rows instead of shuffling both full gram
    # arrays as one record per candidate. Jaccard = inter /
    # (|A| + |B| − inter) over distinct grams — identical values.
    # The inner joins drop zero-intersection pairs, which is sound:
    # a matching LSH band pins its argmin grams into A∩B, and
    # threshold > 0 filters jac = 0 regardless.
    dg = grams.select(
        "_gid", F.explode(F.array_distinct("grams")).alias("_g")
    )
    sizes = dg.groupBy("_gid").agg(F.count("*").alias("_n"))
    inter = (
        cand.join(dg.select(F.col("_gid").alias("i"), "_g"), "i")
        .join(dg.select(F.col("_gid").alias("j"), "_g"), ["j", "_g"])
        .groupBy("i", "j")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("_gid").alias("i"), F.col("_n").alias("_na")),
            "i",
        )
        .join(
            sizes.select(F.col("_gid").alias("j"), F.col("_n").alias("_nb")),
            "j",
        )
        .select(
            "i",
            "j",
            (
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast(
                    "double"
                )
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def simhash_bits(
    df: DataFrame, text_col: str, id_col: str, bits: int = 16
) -> DataFrame:
    """SimHash via per-bit majority vote over token md5s.

    Bit b of a token = high bit of hex digit b of md5(token)
    (digit ≥ '8' lexicographically — portable across engines).
    Output: (id_col, sh STRING of '0'/'1' × bits). Hamming distance
    between sh strings approximates cosine of the token multisets.
    Single explode + one groupBy(id): scan-side, shuffle on doc id.
    """
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(text_col, " ")).alias("t"),
    ).filter(F.col("t") != "")
    h = tok.select(id_col, F.md5("t").alias("m"))
    votes = [
        F.sum(
            F.when(F.substring("m", b + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    sh = F.concat(
        *[
            F.when(F.col(f"_v{b}") > 0, "1").otherwise("0")
            for b in range(bits)
        ]
    )
    return agg.select(id_col, sh.alias("sh"))


def contaminated_ids(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Ids of documents sharing any word ``k``-gram with the benchmark
    set — the detection half of benchmark decontamination (the
    standard pre-training hygiene pass that removes training documents
    overlapping an eval set).

    Shape at scale: the benchmark is small by definition (eval sets
    are thousands of rows, the corpus is billions), so its distinct
    gram set is built once and BROADCAST; the corpus side is one
    scan + explode feeding a broadcast left-semi join (no corpus-side
    shuffle for the match) and a distinct on the doc id (map-side
    partial). The corpus is never joined to itself.

    Output: one column ``id_col``, distinct.
    """
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), k)).alias("g")
        )
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), k)).alias("g")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Drop documents sharing any word k-gram with ``benchmark``
    (GPT-3-style n-gram decontamination; pick ``k`` per tokenizer —
    13-gram in the original recipe, smaller for word-level grams).
    Anti-join against the broadcast-detected contaminated-id set."""
    bad = contaminated_ids(df, benchmark, text_col, id_col, k)
    return df.join(bad, id_col, "left_anti")


def contamination_fraction(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """(id, frac): the fraction of a document's DISTINCT word
    k-grams that appear anywhere in ``benchmark``. The graded
    sibling of ``contaminated_ids`` — any-overlap is too blunt for
    short grams (stopword runs contaminate everything), so real
    recipes drop on an overlap *fraction*. Scale shape is identical
    to ``decontaminate``: benchmark gram set broadcast, corpus
    explodes once, one per-doc count aggregate; the corpus never
    self-joins.

    Single-pass spelling (round 6 — the 100× sweep showed the old
    two-branch form shingling the corpus TWICE and re-joining the
    per-doc sizes to the per-doc hit counts by id, 76 s at 500k
    docs): the distinct-gram count rides the explode as a constant
    column, the broadcast probe is a LEFT join with an indicator
    (count-preserving, unlike left_semi), and one aggregate yields
    (n, hits) together — one shingle pass, zero corpus-sized
    joins; measured 1.5× faster at the 100× fixture (76 s → 51 s;
    the remainder is the shingle expression itself, scan-side CPU
    that parallelizes linearly on a cluster)."""
    g1 = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("_g"),
    ).filter(F.size("_g") > 0)
    ex = g1.select(
        F.col(id_col),
        F.size("_g").alias("_n"),
        F.explode("_g").alias("g"),
    )
    bench_g = benchmark.select(
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), k))
        ).alias("g")
    ).distinct()
    return (
        ex.join(
            F.broadcast(bench_g.withColumn("_hit", F.lit(1))), "g", "left"
        )
        .groupBy(id_col)
        .agg(
            F.max("_n").alias("_n"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("_hits"),
        )
        .select(
            F.col(id_col),
            (F.col("_hits").cast("double") / F.col("_n")).alias("frac"),
        )
    )


def decontaminate_frac(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    max_frac: float = 0.2,
) -> DataFrame:
    """Drop documents whose benchmark k-gram overlap fraction exceeds
    ``max_frac`` (anti-join against the offender id set). Documents
    too short to have any k-gram are kept — they cannot leak a
    k-gram."""
    bad = (
        contamination_fraction(df, benchmark, text_col, id_col, k)
        .filter(F.col("frac") > max_frac)
        .select(id_col)
    )
    return df.join(bad, id_col, "left_anti")


def ngram_containment(
    grams_a: str | Column, grams_b: str | Column
) -> Column:
    """Containment score |A∩B| / min(|A|,|B|) over distinct grams —
    unlike Jaccard, a short document fully quoted inside a long one
    scores 1.0 (Jaccard dilutes by the union). The right verify
    metric for copy/quote detection."""
    da = F.array_distinct(F.col(grams_a) if isinstance(grams_a, str) else grams_a)
    db = F.array_distinct(F.col(grams_b) if isinstance(grams_b, str) else grams_b)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    return inter / F.least(F.size(da), F.size(db)).cast("double")


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    persist: bool = True,
    anchors: int | None = None,
    anchor_max_df: int | None = 1000,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-CONTAINMENT pairs: same generate-and-verify shape as
    ``near_dup_pairs`` (MinHash signatures → banded LSH candidates),
    but verified with ``ngram_containment`` — catches documents
    embedded in other documents (quotes, concatenated crawls,
    boilerplate-wrapped copies) that Jaccard misses when lengths
    differ. Returns (i, j, cont).

    Recall bound: MinHash banding approximates JACCARD, so a tiny
    doc inside a huge one may never share a band (Jaccard ≈
    |A|/|B| → 0 while containment = 1). Pass ``anchors=q`` to union
    in the bounded gram-prefix candidate path
    (``containment_anchor_candidates``): each doc probes the gram
    inverted index with its q smallest gram hashes, so an embedded
    doc with containment ≥ t is missed with probability ≤ (1−t)^q
    regardless of the size ratio. The default keeps the pure banded
    pipeline (d13's oracle replays that form exactly). The verify
    stage is exact for every candidate produced either way.
    ``max_bucket`` forwards to ``lsh_candidate_pairs`` (flood guard;
    None preserves the exact oracle form)."""
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows = num_hashes // bands
    grams = df.select(
        F.col(id_col).alias("_gid"),
        word_shingles(F.col(text_col), k).alias("grams"),
    ).filter(F.size("grams") > 0)
    if persist:
        grams = grams.localCheckpoint(eager=False)
    sig = minhash_signature_from_grams(
        grams.select(F.col("_gid").alias(id_col), "grams"), id_col, num_hashes
    )
    cand = lsh_candidate_pairs(
        sig, id_col, bands, rows, max_bucket, persist=persist
    )
    if anchors:
        cand = (
            cand.unionByName(
                containment_anchor_candidates(grams, anchors, anchor_max_df)
            )
            .distinct()
        )
    # Verify via narrow (doc, gram) rows, NOT by joining the full
    # gram arrays onto each candidate pair: the array form shuffles
    # |A|+|B| strings per candidate as ONE huge record, and at the
    # 100x fixture those multi-hundred-KB rows blew the sort spill
    # ("No space left on device" in UnsafeExternalSorter, round 6).
    # The exploded form moves the same bytes as many ~100-byte rows
    # — spill-friendly, partial-aggregated, and whole-stage-codegen
    # all the way. Same math: |A∩B| / min(|A|,|B|) over distinct
    # grams. The inner joins drop zero-intersection pairs, which is
    # sound because every candidate shares ≥1 gram by construction
    # (a matching band pins its argmin grams; an anchor hit IS a
    # shared gram) and threshold > 0 filters them regardless.
    dg = grams.select(
        "_gid", F.explode(F.array_distinct("grams")).alias("_g")
    )
    sizes = dg.groupBy("_gid").agg(F.count("*").alias("_n"))
    inter = (
        cand.join(dg.select(F.col("_gid").alias("i"), "_g"), "i")
        .join(dg.select(F.col("_gid").alias("j"), "_g"), ["j", "_g"])
        .groupBy("i", "j")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("_gid").alias("i"), F.col("_n").alias("_na")),
            "i",
        )
        .join(
            sizes.select(F.col("_gid").alias("j"), F.col("_n").alias("_nb")),
            "j",
        )
        .select(
            "i",
            "j",
            (
                F.col("_inter").cast("double")
                / F.least("_na", "_nb").cast("double")
            ).alias("cont"),
        )
        .filter(F.col("cont") >= threshold)
    )


def containment_anchor_candidates(
    grams: DataFrame, q: int = 8, max_df: int | None = 1000
) -> DataFrame:
    """Bounded gram-prefix (bottom-q MinHash) candidate pairs for
    containment — the scale path banding cannot provide (VERDICT r3
    next-8).

    Every doc computes its q smallest md5(gram) values SCAN-SIDE
    (array_sort + slice over the distinct gram array — no shuffle,
    output bounded at q rows/doc) and probes the (gram-hash → doc)
    inverted index with them. If containment(A,B) ≥ t, each anchor
    of the smaller doc lands in A∩B with probability ≥ t, so the
    pair is missed with probability ≤ (1−t)^q — independent of the
    |B|/|A| size ratio that defeats Jaccard banding.

    ``max_df`` drops grams appearing in more than that many docs
    from the index (stopword-like shingles), bounding the join
    fan-out to q·max_df candidates per doc worst-case; the df filter
    and the candidate join shuffle on the same key, so AQE
    co-partitions them. Input is the persisted ``grams`` frame
    (``_gid``, ``grams``) the caller already materializes — no extra
    corpus scan. Output: (i, j) with i < j, distinct."""
    if q < 1:
        raise ValueError(f"anchor count must be >= 1, got {q}")
    anchor = grams.select(
        F.col("_gid").alias("_ai"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.transform(F.array_distinct("grams"), F.md5)
                ),
                1,
                q,
            )
        ).alias("h"),
    )
    index = grams.select(
        F.col("_gid").alias("_bj"),
        F.explode(F.array_distinct("grams")).alias("g"),
    ).select("_bj", F.md5("g").alias("h"))
    if max_df:
        df_ok = (
            index.groupBy("h")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("h")
        )
        index = index.join(df_ok, "h")
    return (
        anchor.join(index, "h")
        .filter(F.col("_ai") != F.col("_bj"))
        .select(
            F.least("_ai", "_bj").alias("i"),
            F.greatest("_ai", "_bj").alias("j"),
        )
        .distinct()
    )


def semantic_dup_flags(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cluster_col: str,
    threshold: float = 0.9,
    round_digits: int = 4,
) -> DataFrame:
    """SemDeDup-style cluster-bounded semantic dedup flags.

    A row is flagged duplicate iff some LOWER-id row in the SAME
    cluster has cosine similarity above ``threshold`` — an
    order-independent keep-first rule that needs no transitive
    closure (unlike pair-graph dedup, every decision depends only on
    the row's own neighbors).

    Scale design: the pairwise stage is confined to each cluster —
    the SemDeDup trick. At 100 TB the cluster column comes from
    ``similarity.kmeans_fit``/``kmeans_assign`` with k sized so
    n/k rows fit a partition; the self-join hash-partitions on the
    cluster key, so total work is Σ|cluster|², never corpus-wide
    all-pairs, and no driver collect anywhere. Similarity is rounded
    before the threshold compare so the cut is engine-exact.

    r12 shape: per-row norms are projected before the pair join
    (``dot/(na·nb)`` is bit-identical to ``cosine`` — same multiply
    and divide — but O(n) norm folds instead of O(pairs)), and the
    threshold is decided by ``max(sim) > t`` in the per-id AGGREGATE
    (∃ pair with sim > t ⟺ max sim > t — identical id set) instead
    of a filter Catalyst would push into the join condition, where
    the score would run inside one giant generated predicate method
    (the l06 lesson).
    """
    from zappy_spark.operators.vecmath import dot, norm

    a = df.select(
        F.col(cluster_col).alias("_c"),
        F.col(id_col).alias("_ia"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(cluster_col).alias("_c"),
        F.col(id_col).alias("_ib"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    sim = F.round(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        round_digits,
    )
    dup_of = (
        a.join(b, "_c")
        .filter(F.col("_ib") < F.col("_ia"))
        .groupBy("_ia")
        .agg(F.max(sim).alias("_mx"))
        .filter(F.col("_mx") > F.lit(threshold))
        .select(F.col("_ia").alias("_dup_id"))
    )
    return df.join(
        dup_of, F.col(id_col) == F.col("_dup_id"), "left"
    ).select(df["*"], F.col("_dup_id").isNotNull().alias("is_semantic_dup"))


def span_stats(
    df: DataFrame, text_col: str, id_col: str, span: int = 3
) -> DataFrame:
    """Span-level corpus dedup stats (C4/CCNet line-dedup analog).

    Splits each document into NON-overlapping ``span``-token spans
    and reports, per document, how many of its spans appear verbatim
    in at least one OTHER document (within-doc repetition never
    counts — the frequency is over distinct docs).

    Scale design: one explode to n_tokens/span rows per doc; global
    span frequency is ONE hash aggregation on md5(span) with
    map-side partials; the join back to per-doc spans is
    co-partitioned on the same key (AQE reuses the exchange). Two
    shuffles total, both carrying (hash, count) pairs — corpus text
    never re-shuffles. The dedup-REWRITE twin drops flagged spans
    with the same frame before re-concatenation.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_tks"))
    n_spans = F.ceil(
        F.greatest(F.size("_tks"), F.lit(1)) / F.lit(float(span))
    ).cast("int")
    spans = base.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_tks"), i * span + 1, span)
                ),
            )
        ).alias("_span"),
    ).select("_id", F.md5(F.col("_span")).alias("_h"))
    freq = spans.groupBy("_h").agg(F.countDistinct("_id").alias("_docs"))
    return (
        spans.join(freq, "_h")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("_docs") >= 2).cast("bigint")).alias("n_shared"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_spans",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_spans"), 4).alias(
                "shared_ratio"
            ),
        )
    )


def span_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span: int = 3,
    min_shared: int = 3,
    max_df: int = 8,
) -> DataFrame:
    """Near-dup candidate EDGES from shared verbatim spans: (i, j,
    shared) for doc pairs sharing >= ``min_shared`` distinct
    non-overlapping ``span``-token spans. The edge set feeds
    ``graph.connected_components`` — the transitively-correct dedup
    clustering.

    Scale design: per-doc spans are DISTINCT before any shuffle;
    spans appearing in more than ``max_df`` docs are dropped (the
    same df-cap as the containment anchor index), so one span fans
    out to at most C(max_df, 2) pairs — popular boilerplate can
    never produce a quadratic bucket. Two hash shuffles on the span
    hash, then one (i, j) aggregate.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_tks"))
    n_spans = F.ceil(
        F.greatest(F.size("_tks"), F.lit(1)) / F.lit(float(span))
    ).cast("int")
    spans = (
        base.select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_spans - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("_tks"), i * span + 1, span)
                    ),
                )
            ).alias("_span"),
        )
        .select("_id", F.md5(F.col("_span")).alias("_h"))
        .distinct()
    )
    capped = spans.join(
        spans.groupBy("_h")
        .agg(F.count("*").alias("_docs"))
        .filter((F.col("_docs") >= 2) & (F.col("_docs") <= max_df))
        .select("_h"),
        "_h",
    )
    a = capped.select("_h", F.col("_id").alias("i"))
    b = capped.select("_h", F.col("_id").alias("j"))
    return (
        a.join(b, "_h")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def fingerprint_dup_groups(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Token-set fingerprint dedup (the OpenRefine "fingerprint
    method", the normalized-exact tier between byte-exact and fuzzy
    dedup): key = md5 of the sorted distinct token set, so documents
    differing only in word order, repetition, or extra whitespace
    collapse to one group. Returns groups with >= 2 members:
    (fp, n_docs, keep_id = min id).

    ONE hash aggregate on the 16-byte fingerprint — same scale shape
    as exact dedup; the canonicalization is pure scan-side array
    work.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    return (
        df.select(fp.alias("fp"), F.col(id_col).alias("_id"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def content_key(text_col: str | Column, tier: str = "exact") -> Column:
    """16-byte dedup key for a text column: ``exact`` = md5 of the
    raw bytes; ``fingerprint`` = md5 of the sorted distinct token
    set (word order / repetition / spacing insensitive)."""
    if tier == "exact":
        return F.md5(F.col(text_col) if isinstance(text_col, str) else text_col)
    if tier == "fingerprint":
        toks = F.filter(
            F.split(text_col, " "), lambda x: x != ""
        )
        return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    raise ValueError(f"unknown dedup tier: {tier}")


def incremental_new_docs(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str,
    id_col: str,
    tier: str = "exact",
) -> DataFrame:
    """Incremental-ingest dedup: keep only rows of ``new_df`` whose
    content key (``tier``: exact md5 or token-set fingerprint) is
    absent from the accumulated corpus ``old_df`` — the
    every-snapshot front door of a training-data pipeline (new crawl
    vs everything already ingested).

    Scale shape: the probe is a left-anti join on the 16-byte key —
    the old side reduces to DISTINCT keys (one hash agg with
    map-side partials), and the join hash-partitions both sides on
    the digest; nothing is broadcast because the accumulated corpus
    is the BIG side. Compose with near_dup_pairs downstream for the
    fuzzy tier.
    """
    old_h = old_df.select(
        content_key(text_col, tier).alias("_h")
    ).distinct()
    return new_df.join(
        old_h,
        content_key(new_df[text_col], tier) == old_h["_h"],
        "left_anti",
    )


def fuzzy_blocked_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: tuple[str, ...] = (),
    prefix: int = 40,
    max_dist: int = 20,
    len_bucket: int = 32,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Record-linkage-style fuzzy matching: BLOCK on cheap
    deterministic keys (caller-supplied columns + first token +
    length bucket), then VERIFY candidates with edit distance on a
    bounded prefix — the classic two-phase shape that makes
    O(len²)-per-pair Levenshtein usable on a large corpus. The
    all-pairs spelling is never materialized: candidates are one
    equi-join on the block key, so cost is Σ block² not corpus², and
    the length bucket caps how different two blocked texts can be.

    ``max_block`` is the flood guard (the LSH lesson): a degenerate
    key — empty texts, a boilerplate first token — would make one
    block quadratic; blocks above the cap are dropped with the same
    rationale as lsh_candidate_pairs' max_bucket. Returns
    (i, j, dist) with i < j, dist = levenshtein of the first
    ``prefix`` chars ≤ ``max_dist``.
    """
    w1 = F.split(F.col(text_col), " ").getItem(0)
    lb = F.floor(F.length(text_col) / len_bucket).cast("int")
    b = df.select(
        F.col(id_col).alias("_fid"),
        F.substring(text_col, 1, prefix).alias("_pfx"),
        *[F.col(c) for c in block_cols],
        w1.alias("_w1"),
        lb.alias("_lb"),
    )
    keys = [*block_cols, "_w1", "_lb"]
    if max_block is not None:
        wcnt = Window.partitionBy(*keys)
        b = b.withColumn("_bsz", F.count("*").over(wcnt)).filter(
            F.col("_bsz") <= max_block
        )
    a = b.select(
        *[F.col(k) for k in keys],
        F.col("_fid").alias("i"),
        F.col("_pfx").alias("_pa"),
    )
    c = b.select(
        *[F.col(k) for k in keys],
        F.col("_fid").alias("j"),
        F.col("_pfx").alias("_pb"),
    )
    return (
        a.join(c, on=keys)
        .filter(F.col("i") < F.col("j"))
        .select(
            "i",
            "j",
            F.levenshtein("_pa", "_pb").cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    theta: float = 0.5,
    shingle_k: int = 3,
    max_token_df: int | None = None,
) -> DataFrame:
    """AllPairs/PPJoin-style set-similarity join with PREFIX
    FILTERING (Bayardo et al., WWW'07): two docs whose element-set
    Jaccard is ≥ θ MUST share at least one element inside each
    doc's prefix — the ``|T| - ceil(θ·|T|) + 1`` RAREST elements
    under the global document-frequency order. Candidates therefore
    come from ONE equi-join on prefix elements (rare by
    construction, so the join fans out minimally), and the exact
    Jaccard verify runs only on that candidate set — the all-pairs
    spelling never exists.

    Set elements are word ``shingle_k``-grams (``shingle_k=1`` =
    plain words). Shingles are the near-dup default on purpose: a
    small-vocabulary corpus makes every WORD ubiquitous and the
    prefix lemma toothless (measured on the 40-word synthetic
    corpus: word prefixes fan out to ~2.2e10 candidate pairs at 50k
    docs, 3-gram shingle prefixes to ~1e8), while the k-gram space
    grows combinatorially and keeps prefix elements rare.

    Scale shape, in order: (1) elements are DISTINCT per doc before
    anything; (2) the global df ranking is one hash agg + one join
    back; (3) per-doc element order is a window partitioned BY DOC
    (never global); (4) the candidate join keys on prefix elements
    whose df is low by construction — ``max_token_df`` (opt-in,
    default None) additionally drops degenerate ubiquitous elements
    from prefixes (the LSH max_bucket lesson). Unlike the prefix
    lemma itself, the df cap IS a recall trade when it binds: a pair
    whose only shared prefix element exceeds the cap is missed.
    With the cap unset the prefix filter is exact — the recall
    property test asserts that unconditional form (ADVICE r5
    item 5); callers at flood-risk scale pass an explicit cap, as
    d37's query does with 100k to match its oracle. (5) verify
    joins the bounded candidate list
    back to the element table twice, co-partitioned on doc id.
    Everything is integer counts → deterministic. Returns
    (i, j, inter, jac) with i < j and jac ≥ θ.
    """
    elems = (
        F.array_distinct(word_shingles(F.col(text_col), shingle_k))
        if shingle_k > 1
        else F.array_distinct(F.split(F.col(text_col), " "))
    )
    toks = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(elems).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    # r12 (guide §5; the near_dup_pairs persist precedent): the
    # element table feeds FOUR consumers (sizes, df ranking, the
    # ranked prefix, and both verify sides) — without a checkpoint each
    # re-runs the scan + shingle expansion + explode. MEMORY_AND_DISK
    # spills gracefully at corpus scale; same rows either way.
    toks = toks.localCheckpoint(eager=False)
    sizes = toks.groupBy("doc").agg(F.count("*").alias("sz"))
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("tdf"))
    w = Window.partitionBy("doc").orderBy("tdf", "tok")
    ranked = (
        toks.join(dfreq, "tok")
        .select("doc", "tok", "tdf", F.row_number().over(w).alias("pos"))
    )
    prefix = ranked.join(sizes, "doc").filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(theta) * F.col("sz")) + 1
    )
    if max_token_df is not None:
        prefix = prefix.filter(F.col("tdf") <= max_token_df)
    pa = prefix.select(F.col("doc").alias("i"), "tok")
    pb = prefix.select(F.col("doc").alias("j"), "tok")
    cands = (
        pa.join(pb, "tok")
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )
    ta = toks.select(F.col("doc").alias("i"), "tok")
    tb = toks.select(F.col("doc").alias("j"), "tok")
    inter = (
        cands.join(ta, "i")
        .join(tb, ["j", "tok"])
        .groupBy("i", "j")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("i"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc").alias("j"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "i")
        .join(sb, "j")
        .select(
            "i",
            "j",
            "inter",
            F.round(
                F.col("inter")
                / (F.col("sza") + F.col("szb") - F.col("inter")),
                6,
            ).alias("jac"),
        )
        .filter(F.col("jac") >= theta)
    )


def substring_dup_spans(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Maximal cross-doc duplicated substring spans — the
    suffix-array substring dedup of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") re-expressed for a
    distributed engine. A suffix array finds every duplicated
    substring of length >= k; the equivalent relational form is:
    OVERLAPPING k-token shingles with positions, a position is
    duplicated iff its shingle occurs in >= 2 distinct docs, and
    consecutive duplicated positions merge into maximal runs
    (gaps-and-islands) — each run [p_min, p_max] is exactly a
    maximal duplicated token span of length p_max - p_min + k.
    Unlike span_stats (non-overlapping spans, set membership only),
    this recovers span BOUNDARIES and lengths, which is what the
    cut-the-span dedup rewrite needs.

    Returns one row per doc that has any duplicated span:
    (id, n_spans, max_span_tokens, dup_tokens).

    Scale: one explode to ~n_tokens rows per doc; shingle frequency
    is one hash agg on md5(gram) with map-side partials; the join
    back is co-partitioned on the same key; the islands window
    partitions per doc over only the DUPLICATED positions (a small
    subset). Corpus text shuffles zero times — only (hash, pos)
    pairs move. The 100 TB form buckets by gram hash exactly like
    span_stats."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_tks")).filter(
        F.size("_tks") >= k
    )
    n_pos = F.size("_tks") - (k - 1)
    grams = base.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_pos),
                lambda i: F.struct(
                    i.alias("p"),
                    F.md5(
                        F.concat_ws(" ", F.slice(F.col("_tks"), i, k))
                    ).alias("h"),
                ),
            )
        ).alias("_s"),
    ).select("_id", F.col("_s.p").alias("_pos"), F.col("_s.h").alias("_h"))
    freq = grams.groupBy("_h").agg(F.countDistinct("_id").alias("_d"))
    dup = grams.join(freq.filter(F.col("_d") >= 2), "_h").select(
        "_id", "_pos"
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    isl = dup.withColumn("_grp", F.col("_pos") - F.row_number().over(w))
    spans = isl.groupBy("_id", "_grp").agg(
        (F.max("_pos") - F.min("_pos") + k).alias("_len")
    )
    return spans.groupBy("_id").agg(
        F.count("*").alias("n_spans"),
        F.max("_len").cast("bigint").alias("max_span_tokens"),
        F.sum("_len").cast("bigint").alias("dup_tokens"),
    ).select(
        F.col("_id").alias(id_col),
        "n_spans",
        "max_span_tokens",
        "dup_tokens",
    )


def crosslingual_align_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    pivot_lang: str = "en",
    n_anchor: int = 3,
    gram_k: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """Cross-lingual document alignment by cheap anchor signatures —
    the candidate-mining stage of bitext alignment (the hash-based
    pre-filter classically run before an embedding scorer like
    LASER; the scorer is pluggable downstream). Each doc's anchor is
    the md5 of its ``n_anchor`` RAREST ``gram_k``-gram shingles
    (global document frequency asc, gram asc — deterministic); docs
    in different languages sharing an anchor are candidates, scored
    by exact gram-set Jaccard, and each non-pivot doc keeps its best
    pivot match (ties → smallest pivot id).

    ANCHORS ARE GRAMS, NOT TOKENS (round-7 100× sweep lesson): on a
    small-vocabulary corpus the rarest unigrams are shared by
    thousands of docs, so unigram anchors flood their buckets and
    the candidate join explodes quadratically — the first spelling
    filled the disk at the 100× fixture. k-gram rarity is
    discriminative at any vocabulary size, and ``max_bucket`` hard-
    bounds the blast radius anyway: anchors with more member docs
    than the cap are dropped BEFORE the bucket join (mass-cloned
    families route through exact/fingerprint dedup first — the
    lsh_candidate_pairs doctrine).

    Returns (id, lang, match_id, inter, uni): intersection and union
    are exact BIGINTs — no rounded ratio anywhere (the round-7
    boundary-probe discipline); consumers divide if they want a
    score.

    Scale: gram df is one hash agg; per-doc rarest-3 is a window
    over (doc, gram) distinct rows; the anchor bucket join is
    md5-keyed, balanced AND capped; the Jaccard verify runs over
    EXPLODED (doc, gram) rows, never array-carrying joins (the
    round-6 100× lesson)."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(lang_col).alias("_lang"),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), gram_k))
        ).alias("_tok"),
    )
    return crosslingual_align_from_tokens(
        toks,
        id_col=id_col,
        lang_col=lang_col,
        pivot_lang=pivot_lang,
        n_anchor=n_anchor,
        max_bucket=max_bucket,
    )


def crosslingual_align_from_tokens(
    toks: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    pivot_lang: str = "en",
    n_anchor: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """The scoring half of ``crosslingual_align_candidates`` over a
    precomputed DISTINCT (_id, _lang, _tok) frame — factored out
    (round 8) so the streaming twin can drain its mergeable token
    state through the exact same plan the batch operator builds:
    the composed batch function is unchanged, and drained state ⇒
    identical rows by construction."""
    dfreq = toks.groupBy("_tok").agg(F.countDistinct("_id").alias("_df"))
    ranked = toks.join(dfreq, "_tok").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_id").orderBy("_df", "_tok")
        ),
    )
    anchors = (
        ranked.filter(F.col("_rn") <= n_anchor)
        .groupBy("_id", "_lang")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("_rn", "_tok"))
                        ),
                        lambda s: s["_tok"],
                    ),
                )
            ).alias("_anchor"),
            F.count("*").alias("_na"),
        )
        .filter(F.col("_na") == n_anchor)
        .select("_id", "_lang", "_anchor")
    )
    small = (
        anchors.groupBy("_anchor")
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") <= max_bucket)
        .select("_anchor")
    )
    anchors = anchors.join(small, "_anchor")
    piv = anchors.filter(F.col("_lang") == pivot_lang).select(
        F.col("_id").alias("_pid"), "_anchor"
    )
    oth = anchors.filter(F.col("_lang") != pivot_lang)
    cand = oth.join(piv, "_anchor").select("_id", "_lang", "_pid")
    # exploded-narrow Jaccard: pair rows join gram rows per side
    tok_n = toks.select("_id", "_tok")
    sizes = tok_n.groupBy("_id").agg(F.count("*").alias("_sz"))
    inter = (
        cand.join(tok_n, "_id")
        .join(
            # explicit 2-key equi-join (pid, gram): never a
            # per-pair gram cross product
            tok_n.select(F.col("_id").alias("_pid"), "_tok"),
            ["_pid", "_tok"],
        )
        .groupBy("_id", "_lang", "_pid")
        .agg(F.count("*").alias("inter"))
    )
    scored = (
        inter.join(sizes, "_id")
        .join(
            sizes.select(
                F.col("_id").alias("_pid"), F.col("_sz").alias("_psz")
            ),
            "_pid",
        )
        .select(
            "_id",
            "_lang",
            "_pid",
            "inter",
            (F.col("_sz") + F.col("_psz") - F.col("inter")).alias("uni"),
        )
    )
    w = Window.partitionBy("_id").orderBy(
        (F.col("inter") / F.col("uni")).desc(), F.col("_pid")
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            F.col("_id").alias(id_col),
            F.col("_lang").alias(lang_col),
            F.col("_pid").alias("match_id"),
            F.col("inter").cast("bigint").alias("inter"),
            F.col("uni").cast("bigint").alias("uni"),
        )
    )


def containment_direction(
    df: DataFrame,
    text_col: str,
    group_col: str,
    k: int = 3,
    hi_pct: int = 12,
) -> DataFrame:
    """Asymmetric containment verdict per unordered group pair — the
    DIRECTION refinement of the d36 overlap matrix: containment is
    |A∩B|/|A| vs |A∩B|/|B|, and which side clears the ``hi_pct``
    threshold tells who is re-hosting whom (a benchmark inside a
    crawl reads 'bench_in_crawl', not 'mutual'). All decisions are
    exact BIGINT cross-multiplications (shared*100 >= hi_pct*n) —
    no division, no ROUND, no boundary to flip (the round-7 probe
    discipline).

    Returns (grp_a, grp_b, shared, n_a, n_b, verdict) for every
    unordered pair, verdict ∈ a_in_b | b_in_a | mutual | weak.

    Scale: distinct (group, gram) FIRST (the t13 lesson), one
    gram-keyed equi-join, output bounded at |groups|² regardless of
    corpus size."""
    sg = df.select(
        F.col(group_col).alias("_g"),
        F.explode(
            word_shingles(F.col(text_col), k, filter_empty=True)
        ).alias("_gram"),
    ).distinct()
    totals = sg.groupBy("_g").agg(F.count("*").alias("_n"))
    a = sg.select(F.col("_g").alias("grp_a"), "_gram")
    b = sg.select(F.col("_g").alias("grp_b"), "_gram")
    hits = (
        a.join(b, "_gram")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count("*").alias("shared"))
    )
    joined = (
        hits.join(
            totals.select(F.col("_g").alias("grp_a"), F.col("_n").alias("n_a")),
            "grp_a",
        )
        .join(
            totals.select(F.col("_g").alias("grp_b"), F.col("_n").alias("n_b")),
            "grp_b",
        )
    )
    in_a = F.col("shared") * 100 >= F.lit(hi_pct) * F.col("n_a")
    in_b = F.col("shared") * 100 >= F.lit(hi_pct) * F.col("n_b")
    return joined.select(
        "grp_a",
        "grp_b",
        F.col("shared").cast("bigint").alias("shared"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.when(in_a & in_b, "mutual")
        .when(in_a, "a_in_b")
        .when(in_b, "b_in_a")
        .otherwise("weak")
        .alias("verdict"),
    )


def hamming_candidate_pairs(
    hash_df: DataFrame,
    id_col: str,
    band_cols: tuple[str, ...] = ("a0", "a1", "a2", "a3"),
    max_ham: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Perceptual-hash near-dup pairs by banded Hamming blocking
    (round 8; VERDICT r7 item 2): the image sibling of
    ``lsh_candidate_pairs``, joining the real-codec layer to the
    dedup family. Input is one row per image with its hash split
    into integer band columns (image_hash_bands); a pair is a
    CANDIDATE iff it agrees exactly on ≥ 1 band, and a near-dup iff
    the full Hamming distance Σ_b bit_count(x_b XOR y_b) ≤
    ``max_ham``.

    With B band columns, pigeonhole guarantees any pair within
    Hamming distance B-1 shares an identical band — so for
    ``max_ham < B`` (the default: 3 < 4) the banded join is EXACT,
    not approximate, and a SQL oracle replays it verbatim. Larger
    thresholds degrade to standard LSH recall; callers wanting
    guaranteed recall at distance d split into d+1 bands.

    ``max_bucket`` is the standing flood cap (lsh_candidate_pairs
    doctrine): band values shared by more than this many images —
    flat/black frames, letterboxing, sprite sheets — are dropped
    before the self-join; such families belong to exact dedup.
    None preserves exact semantics for the oracle twin.

    Scale: the hash table is ~17 bytes/image; banding explodes ×B
    narrow rows, the join key (band_idx, band_value) is balanced
    for photographic corpora, and payload bytes never shuffle —
    only (id, band) pairs move. Returns (i, j, hamming) with
    i < j."""
    bands = hash_df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("b"), F.col(c).alias("v")
                    )
                    for bi, c in enumerate(band_cols)
                ]
            )
        ).alias("_e"),
    ).select("_id", F.col("_e.b").alias("_b"), F.col("_e.v").alias("_v"))
    if max_bucket is not None:
        sizes = bands.groupBy("_b", "_v").agg(F.count("*").alias("_n"))
        bands = bands.join(
            sizes.filter(F.col("_n") <= max_bucket).drop("_n"),
            ["_b", "_v"],
        )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            [
                F.col("x._b") == F.col("y._b"),
                F.col("x._v") == F.col("y._v"),
                F.col("x._id") < F.col("y._id"),
            ],
        )
        .select(
            F.col("x._id").alias("i"), F.col("y._id").alias("j")
        )
        .distinct()
    )
    hx = hash_df.select(
        F.col(id_col).alias("i"),
        *[F.col(c).alias(f"_x{k}") for k, c in enumerate(band_cols)],
    )
    hy = hash_df.select(
        F.col(id_col).alias("j"),
        *[F.col(c).alias(f"_y{k}") for k, c in enumerate(band_cols)],
    )
    ham = sum(
        F.bit_count(
            F.col(f"_x{k}").bitwiseXOR(F.col(f"_y{k}"))
        )
        for k in range(len(band_cols))
    )
    return (
        cand.join(hx, "i")
        .join(hy, "j")
        .select("i", "j", ham.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_ham)
    )


def block_dedup_ledger(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_tokens: int = 16,
) -> DataFrame:
    """C4-style sub-document unit dedup with keep-first boundaries
    (round 8, VERDICT r7 item 6): C4 removed any three-sentence span
    occurring more than once in the corpus, keeping the FIRST
    occurrence. This corpus has no sentence/newline delimiters, so
    the unit is the non-overlapping ``block_tokens``-token block —
    the same ledger mechanics on a deterministic unit (documented
    honestly: unit choice is the corpus's, mechanics are C4's).

    A block's group key is md5 of its text; the kept occurrence is
    the (doc_id, pos) minimum of its group (global first occurrence
    in document order), every other occurrence is REMOVED. Unlike
    d17 span_dedup (set membership only), this returns the rewrite
    ledger a dedup pass needs: per doc, how many blocks survive and
    exactly how many tokens are cut.

    Returns (id, n_blocks, n_removed, removed_tokens).

    Scale: one explode to ~n_tokens/block rows; group keeper is ONE
    hash aggregate (min over a (doc,pos) struct — map-side partials,
    the dedup_keep_best spelling); the join back is co-partitioned
    on the md5 key; text never shuffles — only (hash, doc, pos)
    triples move. 100 TB form buckets by block hash."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_tks")).filter(
        F.size("_tks") >= 1
    )
    n_blocks = F.ceil(F.size("_tks") / F.lit(block_tokens)).cast("int")
    blocks = base.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_blocks - 1),
                lambda i: F.struct(
                    i.alias("p"),
                    F.slice(
                        F.col("_tks"), i * block_tokens + 1, block_tokens
                    ).alias("bt"),
                ),
            )
        ).alias("_b"),
    ).select(
        "_id",
        F.col("_b.p").alias("_pos"),
        F.md5(F.concat_ws(" ", F.col("_b.bt"))).alias("_h"),
        F.size(F.col("_b.bt")).cast("bigint").alias("_ntok"),
    )
    keepers = blocks.groupBy("_h").agg(
        F.min(F.struct(F.col("_id").alias("d"), F.col("_pos").alias("p")))
        .alias("_k")
    )
    marked = blocks.join(keepers, "_h").withColumn(
        "_removed",
        (F.col("_k.d") != F.col("_id")) | (F.col("_k.p") != F.col("_pos")),
    )
    return marked.groupBy("_id").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.col("_removed").cast("bigint")).alias("n_removed"),
        F.sum(
            F.when(F.col("_removed"), F.col("_ntok")).otherwise(F.lit(0))
        ).cast("bigint").alias("removed_tokens"),
    ).select(
        F.col("_id").alias(id_col), "n_blocks", "n_removed",
        "removed_tokens",
    )


# The d50 corpus entry's ledger configuration — ONE definition
# shared by the query (queries/pipeline_ops.py), its oracle, and
# scripts/assert_d50_planting.py, so the planting assertion can
# never silently validate a different configuration than the
# corpus entry (round-11 ADVICE).
D50_LEDGER_PARAMS: dict[str, int] = {
    "span": 3,
    "min_shared": 3,
    "max_df": 8,
}


def dedup_cluster_ledger(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    span: int = 3,
    min_shared: int = 3,
    max_df: int = 8,
) -> DataFrame:
    """End-to-end near-dup CLUSTER ledger (round 9, d50) — the full
    production dedup flow: df-capped span edges → connected
    components (the transitive closure pairwise dedup gets wrong) →
    keep-best canonical per cluster (largest ``size_col``, ties to
    the lowest id) → per-cluster audit row (component, n_docs,
    kept_doc_id, kept_chars, chars_removed). Only multi-doc
    clusters appear (singletons have nothing to review).

    Scale: edge fan-out ≤ C(max_df, 2) per span, CC is iterative
    min-label propagation with localCheckpoint lineage cuts, the
    selection is ONE max_by hash aggregate."""
    from zappy_spark.operators.graph import connected_components

    edges = span_edges(
        docs, text_col, id_col,
        span=span, min_shared=min_shared, max_df=max_df,
    )
    comp = connected_components(edges, "i", "j").select(
        F.col("node").alias(id_col), "component"
    )
    sized = comp.join(docs.select(id_col, size_col), id_col)
    neg_id = -F.col(id_col)
    kept_size = F.max_by(size_col, F.struct(F.col(size_col), neg_id))
    return sized.groupBy("component").agg(
        F.count("*").alias("n_docs"),
        F.max_by(id_col, F.struct(F.col(size_col), neg_id)).alias(
            "kept_doc_id"
        ),
        kept_size.alias("kept_chars"),
        (F.sum(size_col) - kept_size).cast("bigint").alias(
            "chars_removed"
        ),
    )


# ---------------------------------------------------------------
# Winnowing fingerprints (round 12, d51) — the MOSS algorithm
# (Schleimer/Wilkerson/Aiken, SIGMOD 2003): local-window minimum
# selection over k-gram hashes. Guarantees: any shared substring of
# length >= k + w - 1 produces at least one SHARED selected
# fingerprint (the winnowing coverage theorem), while the expected
# density of selected positions is 2/(w+1) — a sketch that is both
# complete for long matches and sparse, unlike full k-gram sets.
# ---------------------------------------------------------------

# Fixed-width position packing bound: selection keys append the
# 7-digit zero-padded (CAP - pos) to the 10-hex-char gram hash so a
# single lexicographic MIN implements "min hash, rightmost on ties"
# (the MOSS robust-winnowing tie rule). Positions past the cap
# would need an 8th digit and break the fixed-width ordering, so
# the operator raises loudly instead of mis-selecting.
WINNOW_POS_CAP = 2_097_152  # ~2M cleaned chars per document


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    w: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint sketch: lowercase, strip
    non-[a-z0-9] (the MOSS normalization), hash every k-char gram
    (md5 prefix, compared lexically — the portable d06 convention),
    slide a w-gram window, and keep each window's minimum with
    RIGHTMOST tie-break. Returns DISTINCT (id, fp_hash, fp_pos).

    Exactness: the selection key is ``substr(md5(gram),1,10) ||
    lpad(CAP - pos, 7, '0')`` — both halves fixed-width, so ONE
    string MIN over the window frame is exactly (hash ASC, pos
    DESC): min hash, rightmost position on hash ties. DuckDB's
    md5/substr/lpad/windowed MIN have identical semantics, so the
    oracle replays the whole selection bit-for-bit.

    Scale (100 TB): grams never leave their document — the only
    wide stage is the per-document window (PARTITION BY id ORDER BY
    pos), which shuffles (id, pos, 17-char key) rows once and sorts
    within documents; output is the sparse 2/(w+1)-density sketch,
    not the full gram set. No joins, no driver state."""
    if k < 2 or w < 2:
        raise ValueError(f"winnowing needs k >= 2 and w >= 2, got {k=} {w=}")
    clean = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    base = (
        df.select(F.col(id_col).alias("_id"), clean.alias("_c"))
        .withColumn("_L", F.length("_c"))
        .filter(F.col("_L") >= k + w - 1)
        .withColumn(
            "_L",
            F.when(F.col("_L") <= WINNOW_POS_CAP, F.col("_L")).otherwise(
                F.raise_error(
                    F.lit(
                        "winnow_fingerprints: document exceeds "
                        f"WINNOW_POS_CAP={WINNOW_POS_CAP} cleaned chars "
                        "— fixed-width position packing would break"
                    )
                )
            ),
        )
    )
    grams = base.select(
        "_id",
        "_L",
        F.explode(
            F.sequence(F.lit(1), F.col("_L") - F.lit(k - 1))
        ).alias("_pos"),
        "_c",
    ).select(
        "_id",
        "_L",
        "_pos",
        F.concat(
            F.substring(F.md5(F.substring("_c", F.col("_pos"), k)), 1, 10),
            F.lpad(
                (F.lit(WINNOW_POS_CAP) - F.col("_pos")).cast("string"),
                7,
                "0",
            ),
        ).alias("_key"),
    )
    win = (
        Window.partitionBy("_id").orderBy("_pos").rowsBetween(0, w - 1)
    )
    sel = grams.withColumn("_sel", F.min("_key").over(win)).filter(
        # only FULL windows select (the last w-1 starts are partial)
        F.col("_pos") <= F.col("_L") - F.lit(k - 1) - F.lit(w - 1)
    )
    return sel.select(
        F.col("_id").alias(id_col),
        F.substring("_sel", 1, 10).alias("fp_hash"),
        (
            F.lit(WINNOW_POS_CAP)
            - F.substring("_sel", 11, 7).cast("int")
        ).alias("fp_pos"),
    ).distinct()


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    w: int = 4,
    min_overlap: float = 0.5,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Cross-document near-dup pairs by SHARED winnowing
    fingerprints — the fifth near-dup tier beside MinHash-LSH
    (probabilistic set-Jaccard), containment (asymmetric), prefix-
    filtered AllPairs (exact Jaccard) and SimHash (Hamming): the
    winnowing theorem makes this tier COMPLETE for any shared run
    of >= k + w - 1 chars, so it targets block-level plagiarism /
    template reuse rather than bag-of-words similarity.

    Returns (i, j, n_shared, n_fp_i, n_fp_j, ovl) for pairs with
    ovl = n_shared / least(n_fp_i, n_fp_j) >= ``min_overlap`` —
    overlap is normalized by the SMALLER sketch so a short document
    pasted into a long one still scores 1.0 (the containment
    convention, d13).

    Scale: matching joins the sparse sketch on fp_hash — the
    classic generate-and-verify split where bucket key cardinality
    grows with the corpus. ``max_fp_df`` drops boilerplate hashes
    shared by more than that many documents before the self-join
    (the d06/d50 flood-guard doctrine: a stop-gram shared by 10^5
    docs would otherwise fan out 10^10 candidate rows)."""
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w).select(
        F.col(id_col).alias("_doc"), "fp_hash"
    ).distinct()
    sizes = fps.groupBy("_doc").agg(F.count("*").alias("_n"))
    if max_fp_df is not None:
        ok = fps.groupBy("fp_hash").agg(F.count("*").alias("_df")).filter(
            F.col("_df") <= max_fp_df
        )
        fps = fps.join(ok.select("fp_hash"), "fp_hash", "left_semi")
    a = fps.select(F.col("_doc").alias("i"), "fp_hash")
    b = fps.select(F.col("_doc").alias("j"), "fp_hash")
    shared = (
        a.join(b, "fp_hash")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("n_shared"))
    )
    si = sizes.select(F.col("_doc").alias("i"), F.col("_n").alias("n_fp_i"))
    sj = sizes.select(F.col("_doc").alias("j"), F.col("_n").alias("n_fp_j"))
    ovl = F.round(
        F.col("n_shared")
        / F.least(F.col("n_fp_i"), F.col("n_fp_j")),
        6,
    )
    return (
        shared.join(si, "i")
        .join(sj, "j")
        .select(
            "i",
            "j",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_fp_i").cast("bigint").alias("n_fp_i"),
            F.col("n_fp_j").cast("bigint").alias("n_fp_j"),
            ovl.alias("ovl"),
        )
        .filter(F.col("ovl") >= min_overlap)
    )


# ---------------------------------------------------------------
# Content-defined chunking (round 12, d52) — the rsync/LBFS cut
# rule behind every storage dedup system: a chunk boundary falls
# AFTER any k-gram whose hash lands in a 1/D slice of hash space.
# Boundaries move with CONTENT, not offsets, so inserting a prefix
# shifts only the first chunk — every later chunk re-aligns and
# dedups (the property d46's fixed-size blocks structurally lack).
# ---------------------------------------------------------------

# Cut rule: md5(k-gram) ends the chunk when its CDC_MASK_LEN-char
# hex suffix (of an 8-char prefix) is all '0' — D = 16^mask_len,
# expected chunk length D + k. Pure string comparison, so both
# engines apply the identical rule with no integer conversion.
# Test-scale default: mask '0' (D=16, ~30-char chunks on ~500-char
# docs); production would use '000' (D=4096, ~4 KB chunks).
CDC_HASH_PREFIX = 8


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    mask: str = "0",
) -> DataFrame:
    """Split each document into content-defined chunks. Returns
    (id, chunk_start, chunk_end, chunk_len, chunk_hash) — 1-based
    inclusive character spans covering the document exactly.

    Mechanics (all engine-portable column expressions): every
    position i in 1..L-k+1 contributes gram = substr(text, i, k);
    the chunk ENDS at i+k-1 when substr(md5(gram), 1, 8) ends with
    ``mask`` (the LBFS convention: the window that fires belongs to
    the chunk it closes). A per-document synthetic end at L closes
    the tail; DISTINCT absorbs the case where a real boundary
    already ends at L. Chunk starts come from ONE lag window per
    document (prev end + 1, first chunk starts at 1).

    Scale (100 TB): the gram explode is scan-side and never leaves
    its document; the only per-doc wide stage is the lag window
    over ~L/D boundary rows (PARTITION BY id — tiny after the
    boundary filter); chunk hashing is scan-side. Nothing here
    shuffles the corpus — downstream dedup aggregates on
    chunk_hash, whose cardinality grows with content volume,
    keeping partitions balanced."""
    if not mask or any(c not in "0123456789abcdef" for c in mask):
        raise ValueError(f"mask must be non-empty lowercase hex, got {mask!r}")
    if len(mask) >= CDC_HASH_PREFIX:
        raise ValueError(f"mask longer than the {CDC_HASH_PREFIX}-char prefix")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_t"),
        F.length(text_col).alias("_L"),
    ).filter(F.col("_L") >= 1)
    fire = (
        F.substring(
            F.md5(F.expr(f"substring(_t, _i, {k})")),
            CDC_HASH_PREFIX - len(mask) + 1,
            len(mask),
        )
        == mask
    )
    ends = base.select(
        "_id",
        "_t",
        "_L",
        # guard: Spark's sequence(1, n) DESCENDS for n < 1, so a
        # doc shorter than k must yield an empty position array
        # (its whole-doc chunk comes from the synthetic tail end)
        F.explode(
            F.when(
                F.col("_L") >= k,
                F.sequence(F.lit(1), F.col("_L") - F.lit(k - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("_i"),
    ).filter(fire).select(
        "_id", "_t", "_L", (F.col("_i") + F.lit(k - 1)).alias("_end")
    )
    ends = ends.unionByName(
        base.select("_id", "_t", "_L", F.col("_L").alias("_end"))
    ).distinct()
    w = Window.partitionBy("_id").orderBy("_end")
    spans = ends.select(
        "_id",
        "_t",
        "_end",
        (F.coalesce(F.lag("_end").over(w), F.lit(0)) + 1).alias("_start"),
    )
    chunk = F.col("_t").substr(
        F.col("_start"), F.col("_end") - F.col("_start") + 1
    )
    return spans.select(
        F.col("_id").alias(id_col),
        F.col("_start").alias("chunk_start"),
        F.col("_end").alias("chunk_end"),
        (F.col("_end") - F.col("_start") + 1).cast("bigint").alias("chunk_len"),
        F.md5(chunk).alias("chunk_hash"),
    )


def cdc_dedup_ledger(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    k: int = 16,
    mask: str = "0",
) -> DataFrame:
    """Per-group content-defined dedup ledger: chunk every document,
    mark each chunk INSTANCE duplicated when its hash occurs more
    than once in the WHOLE corpus, and aggregate per ``group_col``:
    (group, n_chunks, n_bytes, dup_chunks, dup_bytes) — all exact
    BIGINTs; the storage-savings view (dup_bytes / n_bytes is one
    division away for consumers holding the integers).

    Scale: one corpus-wide hash agg on chunk_hash builds the global
    occurrence counts (carrying only hash + count); the instances
    join back on the same key — co-partitioned, no second shuffle
    topology; the final agg is |groups|-sized."""
    chunks = cdc_chunks(df, text_col, id_col, k=k, mask=mask).join(
        df.select(F.col(id_col).alias("_jid"), F.col(group_col).alias("grp")),
        F.col(id_col) == F.col("_jid"),
    )
    # r12 (guide §5; the near_dup_pairs persist precedent): the chunk
    # frame feeds BOTH the global occurrence agg and the instance
    # join — without a checkpoint the whole CDC chain (position explode,
    # boundary filter, lag window, chunk hashing) runs twice.
    chunks = chunks.localCheckpoint(eager=False)
    occ = chunks.groupBy("chunk_hash").agg(F.count("*").alias("_occ"))
    inst = chunks.join(occ, "chunk_hash")
    dup = (F.col("_occ") > 1).cast("bigint")
    return (
        inst.groupBy("grp")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("chunk_len").cast("bigint").alias("n_bytes"),
            F.sum(dup).alias("dup_chunks"),
            F.sum(dup * F.col("chunk_len")).cast("bigint").alias("dup_bytes"),
        )
        .withColumnRenamed("grp", group_col)
    )


# ---------------------------------------------------------------
# Homoglyph-skeleton dedup (round 12, d53) — the UTS #39
# confusables idea at corpus-dedup scale: spam and SEO farms evade
# exact dedup by swapping Latin letters for visually identical
# Cyrillic/Greek code points; folding every confusable to its
# ASCII skeleton BEFORE hashing catches the spoofed duplicate the
# raw hash misses.
# ---------------------------------------------------------------

# Minimal high-hit confusable map (the UTS #39 pairs that actually
# appear in crawl spam): Cyrillic а/е/о/с/р/х and Greek ο/ν folded
# to their Latin skeletons. One translate() — identical semantics
# in Spark and DuckDB (both operate on code points).
CONFUSABLE_FROM = "аеосрхον"
CONFUSABLE_TO = "aeocpxov"


def confusable_skeleton(text_col: "str | Column") -> Column:
    """Fold confusable code points to their ASCII skeleton (after
    lowercasing, so capital homoglyphs fold through their own
    lowercase forms where the engines agree)."""
    return F.translate(
        F.lower(text_col if isinstance(text_col, Column) else F.col(text_col)),
        CONFUSABLE_FROM,
        CONFUSABLE_TO,
    )


def homoglyph_dedup_ledger(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group spoofed-duplicate audit: how many documents are
    duplicates under the RAW hash vs under the confusable-skeleton
    hash — the gap is the population evading exact dedup through
    homoglyph substitution. Returns (group, n_docs, exact_dup_docs,
    skeleton_dup_docs, hidden_dup_docs) — all exact BIGINTs;
    dup_docs counts group members beyond each hash-group's first
    (n_docs − distinct hashes), so a clean corpus scores 0.

    Scale: two hash aggregates per group over (16-byte hash, group)
    pairs — the d01 shuffle shape twice; the skeleton is a
    scan-side translate, no joins anywhere."""
    skel = confusable_skeleton(text_col)
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.md5(text_col).alias("_hraw"),
            F.md5(skel).alias("_hskel"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            (F.count("*") - F.countDistinct("_hraw"))
            .cast("bigint")
            .alias("exact_dup_docs"),
            (F.count("*") - F.countDistinct("_hskel"))
            .cast("bigint")
            .alias("skeleton_dup_docs"),
            (F.countDistinct("_hraw") - F.countDistinct("_hskel"))
            .cast("bigint")
            .alias("hidden_dup_docs"),
        )
        .withColumnRenamed("grp", group_col)
    )
