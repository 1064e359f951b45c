"""Distributed classifier training (round 10, VERDICT r9 item 4).

The quality-scoring family (t04 lang-id profiles, t19 Gopher rules,
t23/t20 LM scoring, t26 WOE/IV, t33 calibration) scores with
trained-elsewhere artifacts; this module TRAINS the classifier
distributed — the C4/CCNet-style learned quality filter, done the
v09-Lloyd's / t37-BPE way: K fixed gradient-descent iterations, each
ONE map-side-combinable hash aggregate over scan-side features, with
the weights re-entering the next iteration as literals (linear
lineage, never a 2^k lazy re-expansion).

Exactness doctrine (why this replays bit-for-bit in DuckDB):
floating-point gradient sums are ORDER-DEPENDENT — a 32-partition
Spark agg and a sequential DuckDB scan would disagree in the last
ulp, and any pinned rounding of such a sum has boundary cells. So
the whole trainer runs in FIXED-POINT INTEGER arithmetic:

- weights are BIGINTs in scale S = 1,000,000 (w_int = round(w * S));
- features are small clipped INTEGERS (scan-side expressions);
- the link is the HARD SIGMOID sigma_h(t) = clamp(0.5 + t/4, 0, 1)
  (the quantized-NN standard, e.g. the piecewise-linear sigmoid of
  Courbariaux et al. 2015), which in scale-S integers is
  p = clamp(S/2 + z div 4, 0, S) — no exp(), no division residue;
- every per-row quantity (z, p, residual) is an exact BIGINT, so the
  gradient SUM is an integer sum: associative, order-independent,
  identical on any partitioning and on both engines;
- the update divides by (lr_den * N) with TRUNCATING integer
  division — Spark's `div` and DuckDB's `//` both truncate toward
  zero (verified on negatives: -7 div 3 = -7 // 3 = -2), so the
  weight trajectory is a deterministic integer sequence.

Scale story (100 TB): per iteration the corpus is touched exactly
once — a narrow scan of integer expressions feeding ONE hash
aggregate whose output is |features|+3 numbers; map-side partials
mean only that many integers cross the shuffle. Driver state is the
weight vector (the bounded-instrument doctrine: K collects of ONE
row each). Gradient magnitudes are |r| <= S and x <= x_cap, so the
BIGINT sum holds to N ~ 1e11 rows; past that, cast the products to
DECIMAL(38,0) — the spelling, not the algorithm, changes.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

# Fixed-point scale: weights are BIGINT multiples of 1/S.
LOGREG_SCALE = 1_000_000


def _logreg_z(w: list[int]) -> Column:
    """The BIGINT pre-activation z = w·(1, x1, x2, x3) at scale-S
    weight literals — one definition for every site that evaluates
    the trained model (round-12 ADVICE: the GD step, the batch
    predictor, the score ledger, the holdout eval, and the
    agreement audits previously each hand-copied this and the
    hard-sigmoid below — the exact parameter-drift risk
    D50_LEDGER_PARAMS/T46_PARAMS exist to prevent)."""
    return (
        F.lit(w[0]).cast("bigint")
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )


def _hard_sigmoid_p() -> Column:
    """The fixed-point hard-sigmoid link p = clamp(S/2 + z div 4,
    0, S) over the BIGINT pre-activation column ``_z`` (exact
    integer arithmetic; `div` floors identically on both engines).
    Pair with ``_hard_sigmoid_keep`` for the 2p > S verdict."""
    s = LOGREG_SCALE
    return F.least(
        F.lit(s).cast("bigint"),
        F.greatest(
            F.lit(0).cast("bigint"),
            F.lit(s // 2) + F.expr("_z div 4"),
        ),
    )


def _hard_sigmoid_keep(p: Column) -> Column:
    """The keep/positive verdict at the hard-sigmoid output:
    2p > S (strict, matching every oracle's CASE spelling)."""
    return F.lit(2) * p > F.lit(LOGREG_SCALE)



def _tdiv(a: int, b: int) -> int:
    """Python twin of Spark `div` / DuckDB `//`: integer division
    truncating toward ZERO (Python's // floors, which differs on
    negatives — the driver-side update must match the engines)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def logreg_features(
    df: DataFrame,
    text_col: str,
    x_cap: int = 3,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Scan-side integer features + deterministic label for the
    quality-classifier demo: x1 = clipped count of the token 'the'
    (the classic English-quality signal), x2 = clipped count of
    'data', x3 = clipped (word_count div 16) length bucket; label
    y = 1 iff 'the' occurs at least twice (a linearly separable
    rule the trainer must RE-learn from the clipped features —
    x1's clip keeps the boundary interior to the feature range).
    All columns int, all expressions scan-side, zero shuffles.
    ``extra`` columns pass through untouched (the scoring ledger
    keeps its group/chars columns beside the features).

    r12 execution shape (guide §4.1; the word_shingles lesson):
    interpreted HOFs have no CSE, so the token array is LET-BOUND
    once per row (each ``_cnt`` otherwise re-ran the split+filter),
    and the bound struct is materialized in its own projection
    (referenced 4×, so CollapseProject cannot inline it). Same
    functions, same values — x3's truncating ``div`` unchanged."""
    words = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != ""
    )

    def _feats(ws: Column) -> Column:
        def _cnt(tok: str) -> Column:
            return F.size(F.filter(ws, lambda x: x == F.lit(tok)))

        return F.struct(
            (_cnt("the") >= 2).cast("int").alias("y"),
            F.least(_cnt("the"), F.lit(x_cap)).alias("x1"),
            F.least(_cnt("data"), F.lit(x_cap)).alias("x2"),
            F.size(ws).alias("nw"),
        )

    bound = F.element_at(F.transform(F.array(words), _feats), 1)
    return df.select(*extra, bound.alias("_f")).select(
        *extra,
        F.col("_f.y").alias("y"),
        F.col("_f.x1").alias("x1"),
        F.col("_f.x2").alias("x2"),
        F.least(F.expr("_f.nw div 16"), F.lit(x_cap))
        .cast("int")
        .alias("x3"),
    )


def _logreg_step_agg(feat: DataFrame, w: list[int]) -> DataFrame:
    """ONE hash aggregate of a GD iteration at incoming weights
    ``w`` (scale-S literals): per row z = w.x (BIGINT), hard-sigmoid
    p, residual r = p - y*S; aggregate emits n, n_correct (at the
    incoming weights, pred = 2p > S), and the four gradient sums
    g_j = sum(r * x_j) — every addend an exact integer, so the sum
    is order-independent on any partitioning."""
    s = LOGREG_SCALE
    z = _logreg_z(w)
    rows = feat.select("y", "x1", "x2", "x3", z.alias("_z"))
    p = _hard_sigmoid_p()
    rows = rows.select("y", "x1", "x2", "x3", p.alias("_p"))
    r = F.col("_p") - F.col("y").cast("bigint") * s
    pred = _hard_sigmoid_keep(F.col("_p")).cast("int")

    def _zsum(col: Column) -> Column:
        # Empty-corpus guard (round-11 ADVICE): a global agg over
        # zero rows returns NULL sums; coalesce to 0 so the update
        # yields the all-zero trajectory (the oracle's NULL-free
        # spelling) instead of _tdiv(None, ...) raising.
        return F.coalesce(F.sum(col), F.lit(0).cast("bigint"))

    return rows.agg(
        F.count("*").alias("n"),
        _zsum((pred == F.col("y")).cast("bigint")).alias("n_correct"),
        _zsum(r).alias("_g0"),
        _zsum(r * F.col("x1")).alias("_g1"),
        _zsum(r * F.col("x2")).alias("_g2"),
        _zsum(r * F.col("x3")).alias("_g3"),
    )


def _logreg_gd(
    feat: DataFrame, n_iter: int, lr_den: int
) -> Iterator[tuple[Row, list[int]]]:
    """The fixed-point GD loop: per iteration ONE driver collect of
    the one-row ``_logreg_step_agg`` at the incoming weights, then
    the driver-side update (_tdiv, so it matches the engines'
    truncating division exactly). Yields (agg row, post-update
    weights) per iteration, starting from w^(0) = zeros."""
    w = [0, 0, 0, 0]
    for _ in range(n_iter):
        row = _logreg_step_agg(feat, w).collect()[0]
        n = max(row["n"], 1)  # same empty-corpus guard as the agg
        w = [w[j] - _tdiv(row[f"_g{j}"], lr_den * n) for j in range(4)]
        yield row, w


def logreg_fit_weights(
    feat: DataFrame,
    n_iter: int = 8,
    lr_den: int = 2,
    checkpoint: bool = True,
) -> list[list[int]]:
    """Run the fixed-point GD loop over a feature frame and return
    the weight TRAJECTORY [w^(0) .. w^(n_iter)] (w^(0) = zeros) as
    plain Python ints — n_iter driver collects of ONE row each (the
    bounded-instrument doctrine; see _logreg_gd).

    r12: the feature frame is localCheckpoint'ed ONCE before the
    loop (guide §5: cut lineage for reused intermediates) — the GD
    loop otherwise re-ran the corpus scan + featurization on every
    iteration; the materialized frame is 4 ints per document. Same
    deterministic feature values, exact integer aggregates, so the
    trajectory is unchanged. Intermediate state within one query
    run, not a cross-run cache.

    r13: pass ``checkpoint=False`` when the CALLER already
    materialized ``feat`` (train-then-score operators share one
    lazily checkpointed feature frame between the GD loop and the
    scoring pass — the fit's internal copy would otherwise be a
    second featurization of the corpus)."""
    if checkpoint:
        feat = feat.localCheckpoint()
    return [[0, 0, 0, 0]] + [w for _, w in _logreg_gd(feat, n_iter, lr_den)]


def logreg_train_fixed(
    df: DataFrame,
    text_col: str,
    n_iter: int = 8,
    lr_den: int = 2,
) -> DataFrame:
    """Fixed-iteration distributed logistic-regression training with
    the hard-sigmoid link, all in scale-S fixed-point BIGINTs (see
    module docstring for the exactness doctrine). Weights start at
    zero; iteration k aggregates the gradient at w^(k-1) and updates
    w_j^(k) = w_j^(k-1) - (g_j div (lr_den * N)) — truncating
    division, identical in Spark (`div`) and DuckDB (`//`).

    Returns one row per iteration, all exact integers:
    (step, n, n_correct, w_bias, w_the, w_data, w_len) — n_correct
    is the training accuracy numerator AT the incoming weights
    (step 1 shows chance level; the trajectory shows learning), the
    w_* are the POST-update weights. The rows are the ones the GD
    loop already collected — K one-agg jobs of ONE row each over one
    checkpointed feature frame (the kmeans centroids-as-literals
    precedent, lineage LINEAR in n_iter) — so collecting the result
    runs no aggregation again."""
    feat = logreg_features(df, text_col).localCheckpoint(eager=False)
    rows = [
        (step, r["n"], r["n_correct"], *w)
        for step, (r, w) in enumerate(_logreg_gd(feat, n_iter, lr_den), 1)
    ]
    return df.sparkSession.createDataFrame(
        rows,
        "step int, n bigint, n_correct bigint, "
        "w_bias bigint, w_the bigint, w_data bigint, w_len bigint",
    )


def logreg_predict(
    feat: DataFrame, w: list[int]
) -> DataFrame:
    """Scan-side scoring with a trained fixed-point weight vector:
    appends pred (0/1, hard-sigmoid threshold 2p > S) — the
    apply-half used by the planted-separation unit pin."""
    s = LOGREG_SCALE
    z = _logreg_z(w)
    rows = feat.withColumn("_z", z)
    p = _hard_sigmoid_p()
    return rows.withColumn(
        "pred", _hard_sigmoid_keep(p).cast("int")
    ).drop("_z")


def logreg_score_ledger(
    df: DataFrame,
    text_col: str,
    group_col: str,
    chars_col: str,
    n_iter: int = 8,
    lr_den: int = 2,
    weights: list[int] | None = None,
) -> DataFrame:
    """Train-then-FILTER — the pass a production pipeline actually
    runs with the trained quality classifier (v28 trains and audits;
    this applies): fit the fixed-point weights, then score every
    document scan-side (z, hard-sigmoid threshold 2p > S as literal
    arithmetic — no join, the weights ride the scan) and emit the
    per-group keep/drop ledger a data team reviews before writing
    the filtered corpus: (group, n_docs, n_keep, chars_total,
    chars_kept). All exact BIGINTs; chars use the table's declared
    ``chars_col`` so the ledger is byte-accounting, not an estimate.

    Scale: training is n_iter one-agg jobs over the feature scan
    (see logreg_fit_weights); scoring is ONE more corpus scan
    feeding a |groups|-row map-side-combinable agg. Nothing joins,
    nothing sorts, no row ever leaves the executors except the
    ledger.

    Pass ``weights`` to score with an already-trained model instead
    of fitting — the deployment split (train offline, score online):
    the streaming twin scores every micro-batch with the same fixed
    weights, making its per-group counters exactly additive."""
    s = LOGREG_SCALE
    feat = logreg_features(df, text_col, extra=(group_col, chars_col))
    if weights is not None:
        w = weights
    else:
        # r13: share ONE materialized feature frame between the GD
        # loop and the scoring pass (was two featurization passes)
        feat = feat.localCheckpoint(eager=False)
        w = logreg_fit_weights(
            feat.select("y", "x1", "x2", "x3"),
            n_iter,
            lr_den,
            checkpoint=False,
        )[-1]
    z = _logreg_z(w)
    rows = feat.select(group_col, chars_col, z.alias("_z"))
    p = _hard_sigmoid_p()
    keep = _hard_sigmoid_keep(p).cast("bigint")
    return (
        rows.select(group_col, chars_col, keep.alias("_k"))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_k").alias("n_keep"),
            F.sum(chars_col).cast("bigint").alias("chars_total"),
            F.sum(F.col(chars_col) * F.col("_k"))
            .cast("bigint")
            .alias("chars_kept"),
        )
    )


def filter_agreement_ledger(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    ref_frac: float = 0.25,
    ppl_cutoff: float = 30.5,
    n_iter: int = 8,
    lr_den: int = 2,
) -> DataFrame:
    """Agreement audit between the two deployed quality-filter
    families (the decision artifact a data team reviews
    before switching filters): the trained logistic classifier
    (v28) and the cross-corpus perplexity LM (t46) each produce a
    keep/drop verdict; this emits the per-source 2x2 grid over the
    documents BOTH systems score (the LM's non-reference slice):
    (group, n_scored, n_both_keep, n_lm_only, n_clf_only,
    n_both_drop) — all exact BIGINTs. High off-diagonal counts
    mean the filters disagree on what quality is, the signal that
    one of them is mistuned for that source.

    The classifier trains on the full corpus at fixed-point BIGINT
    weights (the v28 exactness doctrine); the LM keeps its
    structural reference isolation (t46). The only doc-keyed
    operation is ONE narrow equi-join of the two verdict frames on
    the id — both sides are (id, verdict) projections, hash-
    partitioned on the same key, carrying two columns each."""
    import math

    from zappy_spark.operators.text import _ADD1, _docs

    s = LOGREG_SCALE
    lncut = math.log(ppl_cutoff)
    # one materialized feature frame for fit + verdict scoring
    feat = logreg_features(df, text_col, extra=(id_col,)).localCheckpoint(
        eager=False
    )
    w = logreg_fit_weights(
        feat.select("y", "x1", "x2", "x3"),
        n_iter,
        lr_den,
        checkpoint=False,
    )
    wv = w[-1]
    z = _logreg_z(wv)
    p = _hard_sigmoid_p()
    clf = (
        feat.select(F.col(id_col).alias("_id"), z.alias("_z"))
        .select("_id", _hard_sigmoid_keep(p).cast("int").alias("_kc"))
    )
    lm = _ADD1(_docs(df, text_col, id_col, group_col, ref_frac)).select(
        "_id", "_grp", (F.col("_nll") < F.lit(lncut)).cast("int").alias("_kl")
    )
    both = lm.join(clf, "_id")

    def _n(cond) -> Column:
        return F.sum(cond.cast("bigint"))

    return (
        both.groupBy("_grp")
        .agg(
            F.count("*").alias("n_scored"),
            _n((F.col("_kl") == 1) & (F.col("_kc") == 1)).alias(
                "n_both_keep"
            ),
            _n((F.col("_kl") == 1) & (F.col("_kc") == 0)).alias(
                "n_lm_only"
            ),
            _n((F.col("_kl") == 0) & (F.col("_kc") == 1)).alias(
                "n_clf_only"
            ),
            _n((F.col("_kl") == 0) & (F.col("_kc") == 0)).alias(
                "n_both_drop"
            ),
        )
        .select(
            F.col("_grp").alias(group_col),
            "n_scored",
            "n_both_keep",
            "n_lm_only",
            "n_clf_only",
            "n_both_drop",
        )
        .orderBy(group_col)
    )


def filter_agreement_cube(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    ref_frac: float = 0.25,
    cutoff_lm: float = 30.5,
    cutoff_kn: float = 45.5,
    n_iter: int = 8,
    lr_den: int = 2,
) -> DataFrame:
    """Three-filter agreement audit (the decision artifact that picks
    WHICH perplexity family drives mixture weights once three filters
    are deployed): the v28
    trained logistic classifier, the t46 add-one LM, and the t49
    interpolated-KN LM each verdict every document both LMs score
    (the shared md5-keyed non-reference slice — identical for both
    since ref_frac is shared); output = the per-source 2x2x2 cube
    (group, n_scored, n_kkk … n_ddd; cell order clf, lm, kn;
    k=keep, d=drop), all exact BIGINTs. A large n_kdk/n_kkd face
    means the two smoothing families disagree on that source — the
    signal that the backoff distribution (raw frequency vs
    continuation counts) matters there, exactly what the 'San
    Francisco' unit pin demonstrates at document scale.

    Zero re-spelling: the classifier verdict is the shared
    ``_logreg_z``/``_hard_sigmoid_keep`` chain, the LM scores are the
    in-pass scores of text.py's ``_ADD1`` and ``_KN`` (the same
    scorer t46/t49 build their ledgers from), and the oracle
    concatenates the logistic-GD prefix with the VERBATIM
    ``_t46_chain`` and ``_t49_chain``. The only doc-keyed ops are
    two narrow (id, verdict) equi-joins — both sides 2–3 column
    frames hash-partitioned on the id."""
    import math

    from zappy_spark.operators.text import _ADD1, _KN, _docs

    # one materialized feature frame for fit + verdict scoring
    feat = logreg_features(df, text_col, extra=(id_col,)).localCheckpoint(
        eager=False
    )
    w = logreg_fit_weights(
        feat.select("y", "x1", "x2", "x3"),
        n_iter,
        lr_den,
        checkpoint=False,
    )
    z = _logreg_z(w[-1])
    p = _hard_sigmoid_p()
    clf = (
        feat.select(F.col(id_col).alias("_id"), z.alias("_z"))
        .select("_id", _hard_sigmoid_keep(p).cast("int").alias("_kc"))
    )
    docs = _docs(df, text_col, id_col, group_col, ref_frac)
    lm = _ADD1(docs).select(
        "_id",
        "_grp",
        (F.col("_nll") < F.lit(math.log(cutoff_lm)))
        .cast("int")
        .alias("_kl"),
    )
    kn = _KN(docs).select(
        "_id",
        (F.col("_nll") < F.lit(math.log(cutoff_kn)))
        .cast("int")
        .alias("_kk"),
    )
    cube = lm.join(kn, "_id").join(clf, "_id")

    def _n(c: int, l: int, k: int) -> Column:
        cond = (
            (F.col("_kc") == c) & (F.col("_kl") == l) & (F.col("_kk") == k)
        )
        return F.sum(cond.cast("bigint"))

    cells = [
        (name, c, l, k)
        for name, c, l, k in (
            ("n_kkk", 1, 1, 1),
            ("n_kkd", 1, 1, 0),
            ("n_kdk", 1, 0, 1),
            ("n_kdd", 1, 0, 0),
            ("n_dkk", 0, 1, 1),
            ("n_dkd", 0, 1, 0),
            ("n_ddk", 0, 0, 1),
            ("n_ddd", 0, 0, 0),
        )
    ]
    return (
        cube.groupBy("_grp")
        .agg(
            F.count("*").alias("n_scored"),
            *[_n(c, l, k).alias(name) for name, c, l, k in cells],
        )
        .select(
            F.col("_grp").alias(group_col),
            "n_scored",
            *[name for name, _, _, _ in cells],
        )
        .orderBy(group_col)
    )


def logreg_holdout_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    holdout_frac: float = 0.25,
    n_iter: int = 8,
    lr_den: int = 2,
) -> DataFrame:
    """Held-out evaluation of the trained quality classifier — the
    model-selection step between v28 (train) and v29 (deploy):
    split by the house md5-keyed rule (operators/sampling.py's
    hex-prefix threshold, so the split is deterministic, engine-
    portable, and append-stable), FIT on the training complement,
    then score the holdout and emit the per-group confusion counts
    (n_eval, tp, fp, fn, tn) — precision/recall/accuracy are one
    division away from the exact BIGINTs.

    Scale: the split is a scan-side md5 filter (no shuffle, composes
    with pushdown); training is n_iter one-agg jobs over the
    training partition; evaluation is ONE scan of the holdout into
    a |groups|-row agg. The holdout never influences the weights —
    the same property the oracle enforces structurally (training
    stages read FROM f WHERE NOT ho)."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )

    s = LOGREG_SCALE
    ho = _hash_key(id_col) < sample_threshold(holdout_frac)
    feat = logreg_features(df, text_col, extra=(group_col, id_col))
    # r13: one materialized feature frame for both split branches
    feat = feat.withColumn("_ho", ho).localCheckpoint(eager=False)
    w = logreg_fit_weights(
        feat.filter(~F.col("_ho")).select("y", "x1", "x2", "x3"),
        n_iter,
        lr_den,
        checkpoint=False,
    )[-1]
    z = _logreg_z(w)
    rows = feat.filter(F.col("_ho")).select(
        group_col, "y", z.alias("_z")
    )
    p = _hard_sigmoid_p()
    pred = _hard_sigmoid_keep(p).cast("int")
    rows = rows.select(group_col, "y", pred.alias("_pr"))

    def _n(cond) -> Column:
        return F.sum(cond.cast("bigint"))

    return (
        rows.groupBy(group_col)
        .agg(
            F.count("*").alias("n_eval"),
            _n((F.col("_pr") == 1) & (F.col("y") == 1)).alias("tp"),
            _n((F.col("_pr") == 1) & (F.col("y") == 0)).alias("fp"),
            _n((F.col("_pr") == 0) & (F.col("y") == 1)).alias("fn"),
            _n((F.col("_pr") == 0) & (F.col("y") == 0)).alias("tn"),
        )
    )


def auc_rank_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    holdout_frac: float = 0.25,
    n_iter: int = 8,
    lr_den: int = 2,
) -> DataFrame:
    """Exact ROC-AUC of the trained quality classifier on the
    held-out slice, per group — the threshold-free companion to
    v30's confusion counts (a confusion matrix scores ONE cutoff;
    AUC scores the whole ranking, which is what a filter whose
    cutoff will be tuned later actually needs). Uses the
    Mann-Whitney pair formulation on the RAW integer score z
    (finer-grained than the clamped hard-sigmoid p, and monotone in
    it): AUC = (concordant + tied/2) / (n_pos * n_neg), where
    concordant counts (pos, neg) pairs with z_pos > z_neg and tied
    counts pairs with equal z. Emits per group the exact BIGINTs
    (n_pos, n_neg, concordant, tied, auc_num = 2*concordant + tied,
    auc_den = 2*n_pos*n_neg) — AUC and Gini (2*AUC - 1) are one
    division away, and a degenerate group (no positives or no
    negatives) shows up as auc_den = 0 instead of a hidden NaN.

    All-integer arithmetic end to end: z is the fixed-point logreg
    score (BIGINT), the pair counts come from one cumulative window
    over the per-(group, z) count table — never from an O(n^2)
    pair join — so the result is bit-exact on any partitioning.

    Scale: split = scan-side md5 filter; training = n_iter one-agg
    jobs over the complement (the v28 chain); scoring = ONE holdout
    scan into a (group, z) agg whose size is bounded by the score
    range (z has ~dozens of distinct values — the clipped integer
    features admit few sums), then a group-partitioned cumulative
    window over that tiny table and a |groups|-row agg. No doc-keyed
    join, no unpartitioned window, nothing quadratic."""
    ho_frac = holdout_frac
    feat = logreg_features(df, text_col, extra=(group_col, id_col))
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )

    ho = _hash_key(id_col) < sample_threshold(ho_frac)
    w = logreg_fit_weights(
        feat.filter(~ho).select("y", "x1", "x2", "x3"),
        n_iter,
        lr_den,
    )[-1]
    # score + derive through the SHARED fixed-weight halves (the
    # deployment split reuses them verbatim — no spelling drift)
    return auc_from_hist(
        auc_score_hist(
            df, text_col, id_col, group_col, w, ho_frac
        ),
        group_col,
    )


def _nb_lab(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    holdout_frac: float,
) -> DataFrame:
    """The shared NB labeling frame: tokenized words, the house
    md5-keyed holdout flag, and the deterministic label — ONE
    definition for the trainer, the fixed-model scorer, and the
    streaming twin (the hard-sigmoid-dedup doctrine)."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )

    words = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != ""
    )
    return df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_grp"),
        words.alias("_ws"),
        (_hash_key(id_col) < sample_threshold(holdout_frac)).alias(
            "_ho"
        ),
        (
            F.size(F.filter(words, lambda x: x == F.lit("the"))) >= 2
        )
        .cast("int")
        .alias("y"),
    )


def _nb_doc_scores(
    lab_ho: DataFrame,
    wc: DataFrame,
    pri: DataFrame,
) -> DataFrame:
    """Per-doc NB log-odds over the holdout frame: (_id, _grp, y,
    _s) — the doc-level half _nb_confusion aggregates, exposed so
    the McNemar comparison (v37) can join verdicts per doc without
    re-spelling the scoring arithmetic."""
    tot = wc.agg(
        F.sum("_c1").alias("_t1"),
        F.sum("_c0").alias("_t0"),
        F.count("*").cast("bigint").alias("_v"),
    )
    evc = (
        lab_ho.select("_id", F.explode("_ws").alias("_w"))
        .groupBy("_id", "_w")
        .agg(F.count("*").alias("_c"))
    )
    prior = F.when(
        (F.col("_n1") > 0) & (F.col("_n0") > 0),
        F.ln(F.col("_n1").cast("double") / F.col("_n0")),
    ).otherwise(
        F.raise_error(
            "nb model: training slice lacks a class — "
            "priors are undefined; check the corpus/split"
        )
    )
    floor_ok = F.when(F.col("_v") > 0, F.lit(1.0)).otherwise(
        F.raise_error(
            "nb model: empty training vocabulary — "
            "the smoothed floor is ln(0); check the corpus/split"
        )
    )
    term = F.col("_c") * (
        F.ln(F.coalesce(F.col("_c1"), F.lit(0)) + F.lit(1.0))
        - F.ln((F.col("_t1") + F.col("_v")) * floor_ok)
        - F.ln(F.coalesce(F.col("_c0"), F.lit(0)) + F.lit(1.0))
        + F.ln((F.col("_t0") + F.col("_v")) * floor_ok)
    )
    sums = (
        evc.join(wc, "_w", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("_id")
        .agg(F.sum(term).alias("_tsum"))
    )
    # narrow doc-keyed LEFT join (id, grp, y) ⋈ (id, tsum) — the
    # v31-sanctioned 2-column shape — so a holdout doc with ZERO
    # tokens still enters the ledger at s = prior instead of
    # silently vanishing from n_eval (the t46 ADVICE invariant)
    return (
        lab_ho.select("_id", "_grp", "y")
        .join(sums, "_id", "left")
        .crossJoin(F.broadcast(pri))
        .select(
            "_id",
            "_grp",
            "y",
            (prior + F.coalesce(F.col("_tsum"), F.lit(0.0))).alias(
                "_s"
            ),
        )
    )


def _nb_confusion(
    lab_ho: DataFrame,
    wc: DataFrame,
    pri: DataFrame,
    group_col: str,
) -> DataFrame:
    """The shared NB scoring tail: add-one log-odds against the
    (word, c1, c0) count table and the 1-row prior frame, verdicts
    folded into per-group confusion counts. Totals (T1, T0, V)
    re-derive from the count table; degenerate models raise loudly
    (NULL/zero priors or an empty vocabulary — the round-12 ADVICE
    doctrine). Every holdout doc enters the ledger — a zero-token
    doc scores s = prior via the LEFT join."""
    sc = _nb_doc_scores(lab_ho, wc, pri)

    def _n(cond) -> Column:
        return F.sum(cond.cast("bigint"))

    keep = F.col("_s") > 0
    return (
        sc.groupBy(F.col("_grp").alias(group_col))
        .agg(
            F.count("*").alias("n_eval"),
            _n(keep & (F.col("y") == 1)).alias("tp"),
            _n(keep & (F.col("y") == 0)).alias("fp"),
            _n(~keep & (F.col("y") == 1)).alias("fn"),
            _n(~keep & (F.col("y") == 0)).alias("tn"),
        )
    )


def nb_holdout_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    holdout_frac: float = 0.25,
) -> DataFrame:
    """Multinomial naive-Bayes holdout evaluation — the classic
    lightweight text classifier (the fastText-family baseline)
    beside v28's fixed-point logreg, trained on the SAME
    deterministic label and evaluated on the SAME md5-keyed 25%
    holdout with the SAME confusion-count output shape as v30, so
    the two model families are directly comparable row for row.

    Train (md5 complement): class priors (doc counts) and per-word
    class-conditional token counts with add-one smoothing over the
    training vocabulary V. Score (holdout): log-odds
    s = ln(N1/N0) + Σ_w c_w·[ln(c_w1+1) − ln(T1+V)
    − ln(c_w0+1) + ln(T0+V)], verdict keep ⇔ s > 0. Unseen test
    words enter through the smoothed floor (LEFT join, counts
    coalesced to 0). The float-vs-hash risk is engineered away, not
    hoped away: the emitted ledger is pure BIGINT confusion counts
    and the cutoff-0 margin is MEASURED — min |s| is 6.4e-3 /
    1.5e-3 / 9.2e-5 / 2.0e-5 at sf0.01 / sf0.1 / 10× / 100×, every
    one ≥ 7 orders above double noise.

    Degenerate slices raise loudly instead of silently scoring
    garbage (the round-12 ADVICE doctrine): a training slice
    missing a class would make the prior ln(0)/ln(∞), an empty
    vocabulary a ln(0) smoothing floor — both guarded in the
    shared scoring tail.

    Scale: ONE training scan into a word-keyed count agg (the
    Heaps-bounded vocab — broadcast to the scorers), 1-row prior
    and total aggs, ONE holdout scan into (doc, word) counts, a
    broadcast join, a doc-keyed count agg carrying counts only
    (never text), and a |groups|-row confusion agg. The holdout
    structurally cannot reach the model — every training aggregate
    reads the NOT-ho slice."""
    lab = _nb_lab(df, text_col, id_col, group_col, holdout_frac)
    tr = lab.filter(~F.col("_ho"))
    pri = tr.agg(
        F.sum("y").cast("bigint").alias("_n1"),
        F.sum(1 - F.col("y")).cast("bigint").alias("_n0"),
    )
    wc = (
        tr.select(F.explode("_ws").alias("_w"), "y")
        .groupBy("_w")
        .agg(
            F.sum("y").cast("bigint").alias("_c1"),
            F.sum(1 - F.col("y")).cast("bigint").alias("_c0"),
        )
    )
    return _nb_confusion(
        lab.filter(F.col("_ho")), wc, pri, group_col
    )


def nb_fit_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    holdout_frac: float = 0.25,
) -> DataFrame:
    """The DEPLOYABLE artifact of v35's training half: ONE table
    (kind, w, k1, k0) carrying the per-word class-conditional
    token counts (kind='word') and the class priors as doc counts
    (kind='prior', w NULL) — everything scoring needs (T1, T0, V)
    re-derives from the word rows with one aggregate, so this one
    parquet IS the whole model (write it, ship it; the
    xcorpus/absdisc train-offline pattern)."""
    lab = _nb_lab(df, text_col, id_col, id_col, holdout_frac)
    tr = lab.filter(~F.col("_ho"))
    wc = (
        tr.select(F.explode("_ws").alias("_w"), "y")
        .groupBy("_w")
        .agg(
            F.sum("y").cast("bigint").alias("k1"),
            F.sum(1 - F.col("y")).cast("bigint").alias("k0"),
        )
    )
    words = wc.select(
        F.lit("word").alias("kind"), F.col("_w").alias("w"),
        "k1", "k0",
    )
    pri = tr.agg(
        F.sum("y").cast("bigint").alias("k1"),
        F.sum(1 - F.col("y")).cast("bigint").alias("k0"),
    ).select(
        F.lit("prior").alias("kind"),
        F.lit(None).cast("string").alias("w"),
        "k1",
        "k0",
    )
    return words.unionByName(pri)


def nb_eval_with_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    model: DataFrame,
    holdout_frac: float = 0.25,
) -> DataFrame:
    """v35's deploy side: the SAME holdout confusion ledger scored
    against a STORED model table (nb_fit_model → parquet) instead
    of counts trained in-pass — the artifact round-trip must equal
    nb_holdout_eval exactly on the same docs (pinned in tests).
    The scoring tail is the SAME helper the trainer uses, so
    batch/deploy spelling drift is structurally impossible. Prior
    extraction aggregates (never a bare filter), so an EMPTY model
    reaches the loud guards as NULL sums instead of silently
    emptying the ledger via a 0-row cross join."""
    wc = model.filter(F.col("kind") == "word").select(
        F.col("w").alias("_w"),
        F.col("k1").alias("_c1"),
        F.col("k0").alias("_c0"),
    )
    pri = model.filter(F.col("kind") == "prior").agg(
        F.sum("k1").alias("_n1"), F.sum("k0").alias("_n0")
    )
    lab = _nb_lab(df, text_col, id_col, group_col, holdout_frac)
    return _nb_confusion(
        lab.filter(F.col("_ho")), wc, pri, group_col
    )


def logreg_weights_table(
    spark: SparkSession, w: list[int]
) -> DataFrame:
    """The DEPLOYABLE artifact of the trained logreg: the 1-row
    scale-S integer weight table (w0..w3) — write it to parquet,
    ship it (the nb_fit_model pattern for the fixed-point GD
    family)."""
    return spark.createDataFrame(
        [tuple(int(x) for x in w)],
        "w0 long, w1 long, w2 long, w3 long",
    )


def auc_score_hist(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    w: list[int],
    holdout_frac: float = 0.25,
) -> DataFrame:
    """The ADDITIVE half of the fixed-weight AUC evaluation: the
    per-(group, z) class histogram (n1, n0) of the holdout slice
    under FIXED weights ``w``. Per-doc scores depend only on the
    doc and the weights, so histograms from disjoint batches sum —
    this is the streaming twin's state shape, and
    ``auc_from_hist`` derives the exact pair-count ledger from it."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )

    ho = _hash_key(id_col) < sample_threshold(holdout_frac)
    feat = logreg_features(df, text_col, extra=(group_col, id_col))
    z = _logreg_z([int(x) for x in w])
    return (
        feat.filter(ho)
        .select(group_col, "y", z.alias("_z"))
        .groupBy(group_col, "_z")
        .agg(
            F.sum("y").cast("bigint").alias("_n1"),
            F.sum(1 - F.col("y")).cast("bigint").alias("_n0"),
        )
    )


def auc_from_hist(hist: DataFrame, group_col: str) -> DataFrame:
    """The exact Mann-Whitney pair-count ledger from a (group, z,
    n1, n0) histogram — the same cumulative-window derivation
    auc_rank_eval uses, shared verbatim by the batch evaluator and
    the streaming twin's from_state (no spelling drift)."""
    from pyspark.sql.window import Window

    below = (
        Window.partitionBy(group_col)
        .orderBy("_z")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    by_z = hist.withColumn(
        "_c0", F.coalesce(F.sum("_n0").over(below), F.lit(0))
    )
    agg = by_z.groupBy(group_col).agg(
        F.sum("_n1").alias("n_pos"),
        F.sum("_n0").alias("n_neg"),
        F.sum(F.col("_n1") * F.col("_c0")).alias("concordant"),
        F.sum(F.col("_n1") * F.col("_n0")).alias("tied"),
    )
    return agg.select(
        group_col,
        "n_pos",
        "n_neg",
        "concordant",
        "tied",
        (2 * F.col("concordant") + F.col("tied")).alias("auc_num"),
        (2 * F.col("n_pos") * F.col("n_neg")).alias("auc_den"),
    )


def auc_eval_with_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    weights: DataFrame,
    holdout_frac: float = 0.25,
) -> DataFrame:
    """v34's deploy side: the exact AUC ledger under a STORED
    weight table (logreg_weights_table → parquet) — when the
    stored weights are the trained trajectory's last element this
    equals auc_rank_eval EXACTLY (pinned in tests). The 1-row
    weight frame is a bounded driver collect by construction."""
    row = weights.select("w0", "w1", "w2", "w3").collect()
    if len(row) != 1:
        raise ValueError(
            f"weights table must have exactly 1 row, got {len(row)}"
        )
    w = [row[0]["w0"], row[0]["w1"], row[0]["w2"], row[0]["w3"]]
    return auc_from_hist(
        auc_score_hist(
            df, text_col, id_col, group_col, w, holdout_frac
        ),
        group_col,
    )


def nb_crossval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 4,
) -> DataFrame:
    """K-fold cross-validation of the naive-Bayes quality
    classifier — the model-stability step the single-holdout v35
    cannot answer (is the NB family robust to WHICH quarter is
    held out, or did one split get lucky?). Folds are md5-keyed
    hex quartiles of the id (deterministic, engine-portable,
    append-stable); every document is scored exactly once, by the
    model trained on its complement.

    The K models are NEVER trained K times: training counts
    aggregate ONCE per (fold, word, class), and each fold's
    complement model derives by SUBTRACTION (total − fold) — c, T,
    V and the priors all come out exactly equal to a
    train-on-complement run, at the cost of 2 corpus scans total
    instead of K chains. Same add-one log-odds spelling as the
    shared v35 tail; same loud guards per fold (a complement
    missing a class, an empty complement vocabulary); same
    zero-token-doc accounting (LEFT join onto the fold doc list).

    Output: (fold, n_eval, tp, fp, fn, tn) — exact BIGINTs, one
    row per fold. Cutoff-0 margin MEASURED: min |s| = 7.3e-4 /
    1.3e-3 / 1.9e-5 / 9.0e-6 at sf0.01 / sf0.1 / 10× / 100×.

    Scale: ONE scan into the (fold, word, class) count agg
    (Heaps-bounded × K), one |vocab|×K subtraction frame, ONE scan
    into (fold, doc, word) counts, a (fold, word)-keyed join, and
    a K-row final agg. Nothing quadratic, nothing per-fold."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )

    words = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != ""
    )
    key = _hash_key(id_col)
    fold = F.lit(k - 1).cast("int")
    for f in range(k - 1, 0, -1):
        fold = F.when(
            key < sample_threshold(f / k), f - 1
        ).otherwise(fold)
    lab = df.select(
        F.col(id_col).alias("_id"),
        fold.alias("_f"),
        words.alias("_ws"),
        (
            F.size(F.filter(words, lambda x: x == F.lit("the"))) >= 2
        )
        .cast("int")
        .alias("y"),
    )
    prif = lab.groupBy("_f").agg(
        F.sum("y").cast("bigint").alias("_n1"),
        F.sum(1 - F.col("y")).cast("bigint").alias("_n0"),
    )
    prit = prif.agg(
        F.sum("_n1").alias("_n1t"), F.sum("_n0").alias("_n0t")
    )
    wcf = (
        lab.select("_f", F.explode("_ws").alias("_w"), "y")
        .groupBy("_f", "_w")
        .agg(
            F.sum("y").cast("bigint").alias("_c1"),
            F.sum(1 - F.col("y")).cast("bigint").alias("_c0"),
        )
    )
    wct = wcf.groupBy("_w").agg(
        F.sum("_c1").alias("_c1t"), F.sum("_c0").alias("_c0t")
    )
    folds = df.sparkSession.range(k).select(
        F.col("id").cast("int").alias("_f")
    )
    wfc = (
        wct.crossJoin(F.broadcast(folds))
        .join(wcf, ["_f", "_w"], "left")
        .select(
            "_f",
            "_w",
            (F.col("_c1t") - F.coalesce("_c1", F.lit(0))).alias(
                "_c1c"
            ),
            (F.col("_c0t") - F.coalesce("_c0", F.lit(0))).alias(
                "_c0c"
            ),
        )
    )
    totf = wfc.groupBy("_f").agg(
        F.sum("_c1c").alias("_t1c"),
        F.sum("_c0c").alias("_t0c"),
        F.sum(
            (F.col("_c1c") + F.col("_c0c") > 0).cast("bigint")
        ).alias("_vc"),
    )
    prc = prif.crossJoin(F.broadcast(prit)).select(
        "_f",
        (F.col("_n1t") - F.col("_n1")).alias("_n1c"),
        (F.col("_n0t") - F.col("_n0")).alias("_n0c"),
    )
    evc = (
        lab.select("_f", "_id", F.explode("_ws").alias("_w"))
        .groupBy("_f", "_id", "_w")
        .agg(F.count("*").alias("_c"))
    )
    floor_ok = F.when(F.col("_vc") > 0, F.lit(1.0)).otherwise(
        F.raise_error(
            "nb_crossval: a fold's complement vocabulary is "
            "empty — the smoothed floor is ln(0); check the corpus"
        )
    )
    term = F.col("_c") * (
        F.ln(F.coalesce(F.col("_c1c"), F.lit(0)) + F.lit(1.0))
        - F.ln((F.col("_t1c") + F.col("_vc")) * floor_ok)
        - F.ln(F.coalesce(F.col("_c0c"), F.lit(0)) + F.lit(1.0))
        + F.ln((F.col("_t0c") + F.col("_vc")) * floor_ok)
    )
    sums = (
        evc.join(wfc, ["_f", "_w"], "left")
        .join(F.broadcast(totf), "_f")
        .groupBy("_f", "_id")
        .agg(F.sum(term).alias("_tsum"))
    )
    prior = F.when(
        (F.col("_n1c") > 0) & (F.col("_n0c") > 0),
        F.ln(F.col("_n1c").cast("double") / F.col("_n0c")),
    ).otherwise(
        F.raise_error(
            "nb_crossval: a fold's complement lacks a class — "
            "priors are undefined; check the corpus"
        )
    )
    sc = (
        lab.select("_f", "_id", "y")
        .join(sums, ["_f", "_id"], "left")
        .join(F.broadcast(prc), "_f")
        .select(
            "_f",
            "y",
            (prior + F.coalesce(F.col("_tsum"), F.lit(0.0))).alias(
                "_s"
            ),
        )
    )

    def _n(cond) -> Column:
        return F.sum(cond.cast("bigint"))

    keep = F.col("_s") > 0
    return (
        sc.groupBy(F.col("_f").cast("bigint").alias("fold"))
        .agg(
            F.count("*").alias("n_eval"),
            _n(keep & (F.col("y") == 1)).alias("tp"),
            _n(keep & (F.col("y") == 0)).alias("fp"),
            _n(~keep & (F.col("y") == 1)).alias("fn"),
            _n(~keep & (F.col("y") == 0)).alias("tn"),
        )
    )


def mcnemar_nb_vs_logreg(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    holdout_frac: float = 0.25,
    n_iter: int = 8,
    lr_den: int = 2,
) -> DataFrame:
    """McNemar's paired test between the v35 naive-Bayes and the
    v28/v30 logistic classifier on the SHARED md5-keyed holdout —
    the statistical layer over the bake-off: v35 and v30 say how
    often each model is right; this says whether their DISAGREEMENT
    is lopsided enough to matter. The test statistic is
    χ² = (b − c)²/(b + c) over the discordant pairs (b = NB right
    where logreg is wrong, c = the reverse) — all counts are exact
    BIGINTs, and χ² is emitted as the (chi2_num, chi2_den) pair so
    no float enters the ledger and a zero-discordance group shows
    chi2_den = 0 instead of NaN (≥ 3.84 at 1 dof ⇒ the models
    differ at p < 0.05).

    Both models train on the SAME complement and verdict the SAME
    holdout docs; the only doc-keyed op is ONE narrow (id, verdict)
    equi-join of the two per-doc verdict frames — the
    v31-sanctioned shape. NB scoring reuses the shared
    _nb_doc_scores helper; the logreg verdict reuses
    _logreg_z/_hard_sigmoid_keep — zero re-spelling on either side.

    Output per group: (n_eval, both_right, both_wrong, nb_only,
    lr_only, chi2_num, chi2_den)."""
    from zappy_spark.operators.sampling import (
        _hash_key,
        sample_threshold,
    )

    # NB side
    lab = _nb_lab(df, text_col, id_col, group_col, holdout_frac)
    tr = lab.filter(~F.col("_ho"))
    pri = tr.agg(
        F.sum("y").cast("bigint").alias("_n1"),
        F.sum(1 - F.col("y")).cast("bigint").alias("_n0"),
    )
    wc = (
        tr.select(F.explode("_ws").alias("_w"), "y")
        .groupBy("_w")
        .agg(
            F.sum("y").cast("bigint").alias("_c1"),
            F.sum(1 - F.col("y")).cast("bigint").alias("_c0"),
        )
    )
    nb = _nb_doc_scores(lab.filter(F.col("_ho")), wc, pri).select(
        "_id",
        "_grp",
        "y",
        ((F.col("_s") > 0).cast("int") == F.col("y")).alias("_nbr"),
    )

    # logreg side (same split, same complement)
    ho = _hash_key(id_col) < sample_threshold(holdout_frac)
    feat = logreg_features(df, text_col, extra=(id_col,))
    # r13: one materialized feature frame for both split branches
    feat = feat.withColumn("_ho", ho).localCheckpoint(eager=False)
    w = logreg_fit_weights(
        feat.filter(~F.col("_ho")).select("y", "x1", "x2", "x3"),
        n_iter,
        lr_den,
        checkpoint=False,
    )[-1]
    z = _logreg_z(w)
    rows = feat.filter(F.col("_ho")).select(
        F.col(id_col).alias("_id"), "y", z.alias("_z")
    )
    p = _hard_sigmoid_p()
    lr = rows.select(
        "_id",
        (
            _hard_sigmoid_keep(p).cast("int") == F.col("y")
        ).alias("_lrr"),
    )

    # ONE narrow (id, verdict) equi-join — the v31 shape
    j = nb.join(lr, "_id")

    def _n(cond) -> Column:
        return F.sum(cond.cast("bigint"))

    agg = j.groupBy(F.col("_grp").alias(group_col)).agg(
        F.count("*").alias("n_eval"),
        _n(F.col("_nbr") & F.col("_lrr")).alias("both_right"),
        _n(~F.col("_nbr") & ~F.col("_lrr")).alias("both_wrong"),
        _n(F.col("_nbr") & ~F.col("_lrr")).alias("nb_only"),
        _n(~F.col("_nbr") & F.col("_lrr")).alias("lr_only"),
    )
    d = F.col("nb_only") - F.col("lr_only")
    return agg.select(
        group_col,
        "n_eval",
        "both_right",
        "both_wrong",
        "nb_only",
        "lr_only",
        (d * d).alias("chi2_num"),
        (F.col("nb_only") + F.col("lr_only")).alias("chi2_den"),
    )


def nb_top_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    holdout_frac: float = 0.25,
    min_support: int = 5,
    topk: int = 10,
) -> DataFrame:
    """The interpretability artifact of the deployed NB filter —
    WHICH words drive keep vs drop: the top-k most discriminative
    vocabulary entries on each side of the trained model, ranked by
    the smoothed class ratio (c1+1)/(c0+1) (the add-one log-odds is
    monotone in it, so the ranking is identical and the constants
    T/V cancel — no smoothing totals enter the sort). Low-support
    words are floored out (c1 + c0 >= min_support) so a hapax can't
    top the chart.

    Determinism across engines: the ratio is one IEEE double
    division of exact ints — correctly rounded and bit-identical on
    both engines — with the word as tiebreak; emitted columns are
    the exact BIGINT counts, never the ratio.

    Output: (side, rk, word, c_keep, c_drop) with side in
    ('keep', 'drop'), rk 1..k per side.

    Scale: the model is the Heaps-bounded (word, c1, c0) table
    (one training scan — the v35 shape); each side is ONE
    TakeOrderedAndProject over it (top-k heap, never a global
    sort); the rank window runs over the 2k selected rows,
    partitioned by side."""
    from pyspark.sql.window import Window

    lab = _nb_lab(df, text_col, id_col, id_col, holdout_frac)
    tr = lab.filter(~F.col("_ho"))
    wc = (
        tr.select(F.explode("_ws").alias("_w"), "y")
        .groupBy("_w")
        .agg(
            F.sum("y").cast("bigint").alias("_c1"),
            F.sum(1 - F.col("y")).cast("bigint").alias("_c0"),
        )
        .filter(F.col("_c1") + F.col("_c0") >= min_support)
    )
    ratio = (F.col("_c1") + 1).cast("double") / (
        (F.col("_c0") + 1).cast("double")
    )
    wc = wc.withColumn("_r", ratio)
    keep = (
        wc.orderBy(F.col("_r").desc(), F.col("_w"))
        .limit(topk)
        .withColumn("side", F.lit("keep"))
    )
    drop = (
        wc.orderBy(F.col("_r").asc(), F.col("_w"))
        .limit(topk)
        .withColumn("side", F.lit("drop"))
    )
    both = keep.unionByName(drop)
    win = Window.partitionBy("side").orderBy(
        F.when(F.col("side") == "keep", -F.col("_r")).otherwise(
            F.col("_r")
        ),
        F.col("_w"),
    )
    return (
        both.withColumn("rk", F.row_number().over(win))
        .select(
            "side",
            F.col("rk").cast("bigint").alias("rk"),
            F.col("_w").alias("word"),
            F.col("_c1").alias("c_keep"),
            F.col("_c0").alias("c_drop"),
        )
    )
