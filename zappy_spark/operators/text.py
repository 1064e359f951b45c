"""Text-analysis operators for training-data pipelines.

Language ID (n-gram profile heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and document fingerprinting
(k-gram min-hash, a winnowing-lite rolling scheme). Everything is
built-in-function expressions — scan-side, codegen'd, no Python in
the hot path — so a 100 TB corpus pays one pass per operator.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword
# heuristic language identifier. Deliberately small: the operator is
# the Spark plumbing; swap profiles for fastText-style models via the
# same expression shape.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu"),
    "es": ("el", "la", "de", "que", "los", "una", "por", "con", "para"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour", "que"),
}

STOPWORDS_EN = LANG_PROFILES["en"] + ("a", "an", "for", "on", "as", "are")

# BPE-ish token regex: runs of word chars, or single non-space
# punctuation — approximates byte-pair pre-tokenization boundaries.
TOKEN_RE = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"


def tokens_ws(text: str | Column) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def token_count_ws(text: str | Column) -> Column:
    return F.size(tokens_ws(text))


def token_count_re(text: str | Column) -> Column:
    """BPE-ish regex token count."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0))


def _stopword_hits(text: str | Column, words: tuple[str, ...]) -> Column:
    toks = tokens_ws(text)
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_scores(text: str | Column) -> Column:
    """Map<lang, double>: stopword-hit ratio per language profile."""
    toks = tokens_ws(text)
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    return F.map_from_arrays(
        F.array(*[F.lit(lang) for lang in LANG_PROFILES]),
        F.array(
            *[
                (_stopword_hits(text, words) / n)
                for words in LANG_PROFILES.values()
            ]
        ),
    )


def lang_id(df: DataFrame, text_col: str) -> DataFrame:
    """Append (lang_pred, lang_conf): argmax over profile scores,
    'und' when no profile matches at all."""
    scores = lang_scores(F.col(text_col))
    # argmax over the map via sorted (score desc, lang asc) struct array
    ranked = F.array_sort(
        F.transform(
            F.map_entries(scores),
            lambda e: F.struct(
                (-e["value"]).alias("neg"), e["key"].alias("lang")
            ),
        )
    )
    best = F.element_at(ranked, 1)
    return df.withColumn(
        "lang_pred",
        F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und")),
    ).withColumn("lang_conf", F.round(-best["neg"], 6))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Append the classic quality-filter features: char count, word
    count, mean word length, punctuation ratio, stopword ratio,
    alpha ratio."""
    text = F.col(text_col)
    n_chars = F.length(text)
    toks = tokens_ws(text)
    n_words = F.greatest(F.size(toks), F.lit(1))
    n_punct = F.size(
        F.regexp_extract_all(text, F.lit(r"[^a-zA-Z0-9\s]"), 0)
    )
    n_alpha = F.size(F.regexp_extract_all(text, F.lit(r"[a-zA-Z]"), 0))
    sw = _stopword_hits(text, STOPWORDS_EN)
    return (
        df.withColumn("q_chars", n_chars)
        .withColumn("q_words", F.size(toks))
        .withColumn(
            "q_mean_word_len",
            F.round(
                F.aggregate(
                    toks, F.lit(0.0), lambda a, t: a + F.length(t)
                )
                / n_words,
                6,
            ),
        )
        .withColumn(
            "q_punct_ratio",
            F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        )
        .withColumn(
            "q_alpha_ratio",
            F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6),
        )
        .withColumn("q_stopword_ratio", F.round(sw / n_words, 6))
    )


def quality_filter(
    df: DataFrame,
    text_col: str,
    min_chars: int = 50,
    max_chars: int = 100_000,
    min_stopword_ratio: float = 0.0,
    max_punct_ratio: float = 0.5,
) -> DataFrame:
    """Gopher-style keep-filter over the quality features."""
    feat = quality_features(df, text_col)
    return feat.filter(
        (F.col("q_chars") >= min_chars)
        & (F.col("q_chars") <= max_chars)
        & (F.col("q_stopword_ratio") >= min_stopword_ratio)
        & (F.col("q_punct_ratio") <= max_punct_ratio)
    )


def char_kgrams(text: str | Column, k: int = 8) -> Column:
    """All character k-grams (rolling window), as an array."""
    n = F.greatest(F.length(text) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: F.substring(text, i, k)
    )


def fingerprint(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """Document fingerprint: min-md5 over character k-grams — the
    winnowing idea with window = whole document. Two documents
    sharing any k-gram region are likely to collide; used as a fast
    pre-cluster key before pairwise verification. Output (id, fp)."""
    grams = char_kgrams(F.col(text_col), k)
    fp = F.array_min(F.transform(grams, F.md5))
    return df.select(F.col(id_col), fp.alias("fp"))


# PII patterns: conservative on purpose (precision over recall) and
# spelled in the regex subset Java (Spark) and RE2 (DuckDB) agree on,
# so oracles replay the exact redaction.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def redact_pii(text: str | Column) -> Column:
    """Replace emails and URLs with typed placeholder tokens — the
    standard pre-training scrub pass. Pure regexp_replace chain:
    scan-side, codegen'd, one pass over the corpus."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, URL_RE, "<URL>")


def normalize_text(text: str | Column) -> Column:
    """Canonical text normalization for dedup/matching keys:
    lowercase, non-alphanumerics → space, whitespace collapsed,
    trimmed. The regexes stay in the Java∩RE2 subset (same rationale
    as the PII patterns) so engines replay them identically. Pure
    expression chain — scan-side, codegen'd, no Python."""
    out = F.lower(text)
    out = F.regexp_replace(out, "[^a-z0-9 ]", " ")
    out = F.regexp_replace(out, " +", " ")
    return F.trim(out)


def sentence_stats(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """C4-style sentence/terminal-punctuation audit (round 9): the
    line-level filters every crawl-cleaning recipe applies (C4 keeps
    lines ending in terminal punctuation and drops pages with < 3
    sentences). Per ``group_col``: exact BIGINT counts — docs, total
    sentences (non-overlapping ``[.!?]+`` runs), total whitespace
    tokens, docs with < 3 sentences (the C4 drop rule), docs whose
    text ends in terminal punctuation (trailing spaces allowed).

    One scan, all per-doc numbers are scan-side expressions
    (``regexp_count`` / ``rlike``, Java∩RE2), one tiny group agg."""
    n_sent = F.regexp_count(F.col(text_col), F.lit("[.!?]+"))
    ends_term = F.col(text_col).rlike("[.!?] *$")
    n_words = F.size(
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    )
    return (
        df.select(
            F.col(group_col).alias("grp"),
            n_sent.alias("_s"),
            ends_term.cast("bigint").alias("_e"),
            n_words.alias("_w"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_s").cast("bigint").alias("n_sentences"),
            F.sum("_w").cast("bigint").alias("n_words"),
            F.sum((F.col("_s") < 3).cast("bigint")).alias("n_lt3_sent"),
            F.sum("_e").alias("n_terminal_end"),
        )
        .withColumnRenamed("grp", group_col)
    )


# Per-language stopword lists for coverage audits (CCNet-style:
# a page whose language-specific stopword coverage is near zero is
# usually mis-identified or gibberish). Fixture-vocabulary words so
# the corpus entry exercises real hits; swap for real lists in
# production. Tuples, not lists — the literals are part of the
# oracle contract.
STOPWORDS_LITE: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "order", "table", "row"),
    "fr": ("scan", "data", "query", "batch"),
    "es": ("slow", "agg", "hash", "merge"),
    "de": ("customer", "hash", "join", "row"),
    "zh": ("join", "small", "customer", "row"),
}


def stopword_coverage(
    df: DataFrame,
    text_col: str,
    lang_col: str,
    stopwords: dict[str, tuple[str, ...]] | None = None,
    low_pct: int = 5,
) -> DataFrame:
    """Per-language stopword-coverage audit (round 9 — the CCNet
    quality signal): per lang, exact BIGINT token and stopword-token
    counts plus how many docs fall under ``low_pct``% coverage (the
    low-coverage decision is the integer cross-multiplication
    ``n_stop·100 < n_tok·low_pct`` — no division near it).

    Scale: the per-lang list rides into the scan as a
    map<lang, array<word>> LITERAL (element_at + array_contains
    inside one array filter) — no join, no explode; the token
    stream never leaves its row. One scan + a |langs|-row agg."""
    stop = stopwords or STOPWORDS_LITE
    kv: list[Column] = []
    for lang in sorted(stop):
        kv.append(F.lit(lang))
        kv.append(F.array(*[F.lit(w) for w in stop[lang]]))
    smap = F.create_map(*kv)
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    lst = F.coalesce(
        F.element_at(smap, F.col(lang_col)), F.array().cast("array<string>")
    )
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(lst, x)))
    low = (n_stop * 100 < n_tok * low_pct).cast("bigint")
    return (
        df.select(
            F.col(lang_col).alias("lang"),
            n_tok.alias("_t"),
            n_stop.alias("_s"),
            low.alias("_l"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_t").cast("bigint").alias("n_tokens"),
            F.sum("_s").cast("bigint").alias("n_stop_tokens"),
            F.sum("_l").alias("n_low_coverage_docs"),
        )
    )


# Longest-match-first public-suffix subset for registrable-domain
# extraction (the full PSL is a data file; this lite tier covers the
# multi-label suffixes that make naive last-two-labels grouping
# WRONG — 'a.co.uk' and 'b.co.uk' are different sites, 'co.uk' is
# not one). Order: more labels first, then alphabetical.
PUBLIC_SUFFIXES_LITE: tuple[str, ...] = (
    "ac.uk",
    "co.uk",
    "com.au",
    "github.io",
    "com",
    "dev",
    "io",
    "net",
    "org",
)


def registrable_domain(
    host: str | Column,
    suffixes: tuple[str, ...] = PUBLIC_SUFFIXES_LITE,
) -> Column:
    """Registrable domain (eTLD+1) of a hostname under a fixed
    public-suffix list: the longest matching suffix plus one label
    (``cdn7.github.io`` → ``cdn7.github.io``? no — ``github.io`` is
    the suffix, so eTLD+1 is ``cdn7.github.io``; ``a.s3.co.uk`` →
    ``s3.co.uk``). Hosts matching no suffix, or equal to a bare
    suffix, yield NULL (callers decide policy). Pure CASE chain over
    split labels — scan-side, join-free, and the identical
    expression replays in SQL."""
    h = F.col(host) if isinstance(host, str) else host
    parts = F.split(h, "\\.")
    n = F.size(parts)
    expr = F.lit(None).cast("string")
    # build the CASE from the LAST suffix backwards so the first
    # (longest) match wins when evaluated front-to-back; a host
    # EQUAL to a matched suffix must yield NULL and STOP (PSL rule),
    # not fall through to a shorter suffix — hence the nested when
    for s in reversed(suffixes):
        m = s.count(".") + 1
        tail = F.concat_ws(".", F.slice(parts, -m, m))
        cand = F.concat(F.element_at(parts, -(m + 1)), F.lit("." + s))
        expr = F.when(
            tail == F.lit(s), F.when(n > m, cand)
        ).otherwise(expr)
    return expr


# Unicode-normalization-lite tables (round 9). A pragmatic NFKC
# subset as PORTABLE string primitives (translate is 1:1-positional
# with drop-when-to-is-shorter semantics in BOTH engines — verified;
# a full NFKC needs ICU, which would be a Python UDF on the scan
# path): curly quotes/dashes → ASCII, NBSP → space, fullwidth
# alphanumerics → ASCII, zero-width/BOM characters REMOVED (they sit
# at the tail of FROM past the end of TO), then the multi-char
# expansions (ellipsis, fi/fl ligatures) as plain replaces.
_UNI_FROM = (
    "’‘“”–— "
    + "".join(chr(c) for c in range(0xFF10, 0xFF1A))  # ０-９
    + "".join(chr(c) for c in range(0xFF21, 0xFF3B))  # Ａ-Ｚ
    + "".join(chr(c) for c in range(0xFF41, 0xFF5B))  # ａ-ｚ
    + "​‌‍﻿"  # removed (no TO counterpart)
)
_UNI_TO = (
    "''\"\"-- "
    + "0123456789"
    + "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    + "abcdefghijklmnopqrstuvwxyz"
)
_UNI_REPLACES = (
    ("…", "..."),
    ("ﬁ", "fi"),
    ("ﬂ", "fl"),
)


def normalize_unicode_lite(text: str | Column) -> Column:
    """NFKC-lite unicode normalization (round 9) — the cleanup pass
    real crawl text needs before tokenization/dedup (curly quotes
    split tokens, fullwidth digits break numeric parsing, zero-width
    characters make visually-identical strings hash differently):
    one ``translate`` (folds + drops) plus three multi-char
    ``replace``s, all scan-side and engine-portable. Scope is the
    table above — anything outside it (e.g. combining accents)
    passes through unchanged, loudly documented rather than
    half-normalized."""
    out = F.translate(text, _UNI_FROM, _UNI_TO)
    for a, b in _UNI_REPLACES:
        out = F.replace(out, F.lit(a), F.lit(b))
    return out


def domain_suffix_audit(df: DataFrame, text_col: str) -> DataFrame:
    """Public-suffix-aware domain audit (round 9): URL hosts →
    registrable domains (eTLD+1) → per-suffix (doc mentions,
    distinct sites). The reason this exists: naive last-two-labels
    grouping calls every ``*.co.uk`` site one domain — the PSL-lite
    CASE in :func:`registrable_domain` fixes the multi-label
    suffixes. Hosts matching no suffix group under NULL (kept —
    they are the audit's "unknown TLD" row).

    Scale: array_distinct BEFORE the explode (the t12 discipline,
    no count-distinct over raw mentions), one host-key agg; suffix
    is a scan-side substring of the registrable domain."""
    hosts = df.select(
        F.explode(
            F.array_distinct(url_domains(F.col(text_col)))
        ).alias("host")
    )
    regs = hosts.select(registrable_domain("host").alias("reg"))
    suffix = F.expr("substr(reg, instr(reg, '.') + 1)")
    return (
        regs.select(suffix.alias("suffix"), "reg")
        .groupBy("suffix")
        .agg(
            F.count("*").alias("n_doc_mentions"),
            F.countDistinct("reg").alias("n_sites"),
        )
    )


# Markup-stripping chain (round 9, VERDICT r8 item 5). Order is
# load-bearing: script/style/comment BLOCKS go first (their bodies
# may contain '<' and '>' that the bare-tag regex would mis-split),
# then bare tags, then entities — decoded AFTER tag removal so
# literal '&lt;b&gt;' text is NOT re-parsed as markup (HTML
# semantics), with '&amp;' decoded LAST (the standard double-decode
# guard). All patterns are Java∩RE2: inline (?is) flags, non-greedy
# .*?, and an explicit [ \t\r\n] class instead of \s (whose ASCII
# coverage differs at the margin between the two engines).
_MARKUP_BLOCK_RES = (
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
)
_MARKUP_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&#34;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),
)


def strip_markup(text: str | Column) -> Column:
    """HTML/markup stripping — the text-extraction pass a crawl
    corpus hits before every other text op (C4/CCNet's first step):
    drop script/style/comment blocks, remove tags, decode the common
    entities, collapse whitespace. Pure regexp_replace + replace
    chain in the Java∩RE2 subset — scan-side, codegen'd, one pass,
    oracle-replayable.

    Scope (loud in docs, pinned in tests): well-formed-ish tag spans
    (``<[^>]*>``) — an unclosed ``<div`` at end-of-text stays, as
    does an entity outside the decoded set (``&#x2019;``); both
    survive verbatim rather than corrupting neighbors."""
    out = text
    for pat in _MARKUP_BLOCK_RES:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, "<[^>]*>", " ")
    for ent, rep in _MARKUP_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, "[ \t\r\n]+", " ")
    return F.trim(out)


def tf_idf(
    df: DataFrame, text_col: str, id_col: str, persist: bool = True
) -> DataFrame:
    """(id, term, tf, df, tfidf) with smooth idf
    ``ln((N+1)/(df+1)) + 1`` (sklearn's convention).

    Shape at scale: ONE explode scan feeding a (doc, term) partial
    aggregation; document frequency then derives from the tf table
    itself (its rows are already distinct (doc, term) pairs), so the
    corpus is never tokenized twice and there is no separate
    ``distinct()`` shuffle. tf is lazily checkpointed by default — it
    feeds the df aggregation and the final join — and N broadcasts as
    a 1-row frame from a column-pruned count."""
    toks = df.select(
        F.col(id_col), F.explode(tokens_ws(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    if persist:
        tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count("*").alias("_n"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * (
                    F.log((F.col("_n") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into overlapping context windows — the
    tokenize→chunk step every LLM training pipeline runs before
    packing. Chunk i covers tokens [i*stride, i*stride + max_tokens)
    with stride = max_tokens - overlap; every token belongs to at
    least one chunk and consecutive chunks share ``overlap`` tokens.

    Pure JVM expressions (split → sequence → explode → slice), so
    chunking is scan-side work that scales with input bytes; the
    explode multiplies rows by ~len/stride, which the shuffle-free
    plan absorbs (no aggregation until the caller adds one).
    Output: (id, chunk_id, chunk_text, n_tokens)."""
    if overlap >= max_tokens:
        raise ValueError(f"overlap {overlap} must be < max_tokens {max_tokens}")
    stride = max_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(
        F.greatest(F.size(toks) - overlap, F.lit(1)) / F.lit(float(stride))
    ).cast("int")
    return (
        df.select(
            id_col,
            toks.alias("_t"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(
                F.slice(
                    F.col("_t"), F.col("chunk_id") * stride + 1, max_tokens
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.size("_t") - F.col("chunk_id") * stride, F.lit(max_tokens)
            ).alias("n_tokens"),
        )
    )


def repetition_features(df: DataFrame, text_col: str) -> DataFrame:
    """Append Gopher-style within-document repetition signals — the
    quality filters that catch boilerplate/spam the length and
    punctuation ratios miss:

    - ``rep_dup_word_frac``:   1 - distinct words / total words
    - ``rep_dup_3gram_frac``:  1 - distinct 3-grams / total 3-grams
    - ``rep_top_word_frac``:   occurrences of the most frequent word
                               / total words

    All pure array-lambda expressions — scan-side, no shuffle and no
    Python. The top-word count is O(distinct·total) per row, bounded
    by document length (documents are capped by the chunking stage
    upstream); this beats the explode+groupBy spelling at scale
    because the token stream never leaves the row.

    r12 execution shape (guide §4.1; the word_shingles lesson):
    array HOFs are interpreted with no CSE, so (a) the token array
    is LET-BOUND once per row (the O(distinct·total) top-word scan
    otherwise re-ran the split per distinct word), and (b) the three
    features come out of ONE bound struct materialized in its own
    projection — referenced 3×, so CollapseProject cannot inline it
    back into three separate evaluations of the quadratic scan.
    Same functions in the same order, bit-identical values.
    """
    from zappy_spark.operators.dedup import word_shingles

    text = F.col(text_col)
    grams = word_shingles(text, 3)
    ng = F.size(grams)
    ngd = F.size(F.array_distinct(grams))

    def _feats(tk: Column) -> Column:
        n = F.size(tk)
        nd = F.size(F.array_distinct(tk))
        top = F.array_max(
            F.transform(
                F.array_distinct(tk),
                lambda w: F.size(F.filter(tk, lambda t_: t_ == w)),
            )
        )
        one = F.greatest(n, F.lit(1)).cast("double")
        return F.struct(
            F.round((n - nd) / one, 6).alias("dw"),
            F.round(F.coalesce(top, F.lit(0)) / one, 6).alias("tw"),
        )

    bound = F.element_at(F.transform(F.array(tokens_ws(text)), _feats), 1)
    return (
        df.withColumn("_rf", bound)
        .withColumn("rep_dup_word_frac", F.col("_rf.dw"))
        .withColumn(
            "rep_dup_3gram_frac",
            F.round(
                (ng - ngd) / F.greatest(ng, F.lit(1)).cast("double"), 6
            ),
        )
        .withColumn("rep_top_word_frac", F.col("_rf.tw"))
        .drop("_rf")
    )


# Capture group 1 = registrable host; the pattern stays in the
# Java∩RE2 subset so DuckDB replays it (Spark's parse_url would be
# JVM-only and has no DuckDB analog).
URL_DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)[^\s]*"


def url_domains(text: str | Column) -> Column:
    """All URL host names mentioned in the text, as an array —
    feeds source-distribution audits and domain block/allow lists."""
    return F.regexp_extract_all(text, F.lit(URL_DOMAIN_RE), 1)


def canonical_url(url: str | Column) -> Column:
    """Canonical form of a URL for dedup keying (round 6): lowercase
    scheme+host (path case is significant per RFC 3986, so only the
    authority is folded), strip the query string and fragment, and
    trim a single trailing slash. Pure scan-side string expressions
    — the canonicalization that makes crawl dedup find
    ``HTTP://Example.org/A?utm=1`` == ``http://example.org/A/`` —
    portable: every engine spells these as regexp_replace/lower.
    Web-scale crawls hang exact dedup (md5 groupBy) off this key;
    see url_dedup_groups."""
    u = F.col(url) if isinstance(url, str) else url
    # drop ?query and #fragment
    u = F.regexp_replace(u, r"[?#].*$", "")
    # lowercase ONLY scheme://host (group 1), keep path casing.
    # (?i): the MATCH must be case-insensitive too — 'HTTP://x'
    # must reach the lower() fold (round-7 ADVICE fix; the
    # case-sensitive pattern silently left uppercase schemes
    # un-canonicalized). (?i) is both Java-regex and RE2 syntax,
    # keeping the DuckDB oracle twin spellable.
    scheme_host = F.lower(F.regexp_extract(u, r"(?i)^(https?://[^/]*)", 1))
    path = F.regexp_replace(u, r"(?i)^https?://[^/]*", "")
    u = F.concat(scheme_host, path)
    # trim one trailing slash (capture-group spelling, not a
    # lookbehind: DuckDB's RE2 oracle twin has no lookbehind)
    return F.regexp_replace(u, r"(.)/$", "$1")


def url_dedup_groups(
    df: DataFrame, url_col: str, id_col: str
) -> DataFrame:
    """Exact dedup on the canonical URL: (canon_url, n, keep_id) with
    keep_id = the smallest id in the group — one hash aggregate on
    the canonicalized key (the dedup.py::exact_dedup shape applied
    to URLs), no window, no self-join."""
    return (
        df.select(
            canonical_url(url_col).alias("canon_url"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n"),
            F.min("_id").alias("keep_id"),
        )
    )


def domain_distribution(
    df: DataFrame, text_col: str
) -> DataFrame:
    """(domain, n_docs, n_mentions): corpus-level domain audit.
    One scan + explode; ``n_docs`` counts each document once per
    domain via scan-side array_distinct BEFORE the explode, so the
    aggregate never double-counts without a count-distinct shuffle.
    """
    per_doc = df.select(
        F.explode(F.array_distinct(url_domains(F.col(text_col)))).alias(
            "domain"
        )
    ).groupBy("domain").agg(F.count("*").alias("n_docs"))
    mentions = df.select(
        F.explode(url_domains(F.col(text_col))).alias("domain")
    ).groupBy("domain").agg(F.count("*").alias("n_mentions"))
    return per_doc.join(mentions, "domain")


def frequent_ngrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-frequent word k-grams: grams appearing in at least
    ``min_docs`` DISTINCT documents — the detection pass of C4-style
    boilerplate removal (navigation text, license headers, cookie
    banners repeat verbatim across unrelated pages).

    ``array_distinct`` runs scan-side BEFORE the explode, so each
    (doc, gram) pair is emitted once and the aggregate is a plain
    COUNT — no count-distinct shuffle. Output: (g, n_docs)."""
    from zappy_spark.operators.dedup import word_shingles

    per_doc = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), k))
        ).alias("g"),
    )
    return (
        per_doc.groupBy("g")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_fraction(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_docs: int = 2,
    persist: bool = True,
) -> DataFrame:
    """Per-document boilerplate score: the fraction of a doc's
    distinct k-grams that are corpus-frequent (``frequent_ngrams``).
    High fractions mark template/boilerplate documents for the
    quality filter.

    The exploded (doc, gram) frame feeds BOTH the frequency aggregate
    and the per-doc hit join, so it is lazily checkpointed by default
    — at corpus scale the rescan would double the dominant stage. The
    frequent-gram side joins on the high-cardinality gram key (an
    equi-shuffle, balanced by construction); no broadcast is assumed
    since the frequent set grows with the corpus.

    Output: (id_col, n_grams, n_freq, boilerplate_frac)."""
    from zappy_spark.operators.dedup import word_shingles

    per_doc = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), k))
        ).alias("g"),
    )
    if persist:
        per_doc = per_doc.localCheckpoint(eager=False)
    freq = (
        per_doc.groupBy("g")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("g")
    )
    hits = (
        per_doc.join(freq, "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_freq"))
    )
    base = df.select(
        F.col(id_col),
        F.size(
            F.array_distinct(word_shingles(F.col(text_col), k))
        ).cast("bigint").alias("n_grams"),
    )
    return (
        base.join(hits, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce(F.col("n_freq"), F.lit(0)).alias("n_freq"),
            F.round(
                F.coalesce(F.col("n_freq"), F.lit(0))
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ).alias("boilerplate_frac"),
        )
    )


def token_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document unigram Shannon entropy in nats — the standard
    "word-soup vs natural text" quality signal (uniform random token
    streams max it out; boilerplate/repetition collapses it).

    Uses H = ln(n) − Σc·ln(c)/n so the per-token explode feeds ONE
    (id, token) hash agg with map-side partials and then a narrow
    per-id agg — both shuffles carry counts only, never text. At
    100 TB this is the same two-shuffle shape as word-count.
    """
    ex = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens_ws(F.col(text_col))).alias("_t")
    )
    cnt = ex.groupBy("_id", "_t").agg(F.count("*").alias("_c"))
    return (
        cnt.groupBy("_id")
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.round(
                F.log(F.sum("_c"))
                - F.sum(F.col("_c") * F.log("_c")) / F.sum("_c"),
                4,
            ).alias("entropy"),
        )
        .select(F.col("_id").alias(id_col), "n_tokens", "n_distinct", "entropy")
    )


def lexical_diversity(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Type-token ratio + hapax stats per document — the classic
    lexical-richness filters (low TTR ⇒ template/spam; hapax ratio
    separates natural text from keyword stuffing).

    Same two-shuffle count shape as ``token_entropy``; the two
    share a plan prefix and fuse into one pass when selected
    together.
    """
    ex = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens_ws(F.col(text_col))).alias("_t")
    )
    cnt = ex.groupBy("_id", "_t").agg(F.count("*").alias("_c"))
    return (
        cnt.groupBy("_id")
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.sum((F.col("_c") == 1).cast("bigint")).alias("n_hapax"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            "n_distinct",
            "n_hapax",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("ttr"),
            F.round(F.col("n_hapax") / F.col("n_distinct"), 4).alias(
                "hapax_ratio"
            ),
        )
    )


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 relevance for a literal query-term set — the
    retrieval scorer a training-data pipeline uses to mine documents
    related to a target task (Okapi BM25, Robertson's +1 idf so
    scores stay positive at any df).

    Scale shape: tokens are filtered to the query terms BEFORE the
    (id, term) shuffle, so the tf aggregate carries ≤|terms| rows per
    doc regardless of document length. Corpus stats (N, avgdl) are a
    1-row aggregate crossJoined (broadcast); per-term df is a
    ≤|terms|-row broadcast join. One tokenize pass feeds both dl and
    tf via a shared plan prefix.
    """
    toks = df.select(
        F.col(id_col).alias("_id"), tokens_ws(F.col(text_col)).alias("_tks")
    )
    doc = toks.select("_id", F.size("_tks").cast("bigint").alias("_dl"))
    stats = doc.agg(
        F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    tf = (
        toks.select("_id", F.size("_tks").cast("bigint").alias("_dl"),
                    F.explode("_tks").alias("_tk"))
        .filter(F.col("_tk").isin(*terms))
        .groupBy("_id", "_dl", "_tk")
        .agg(F.count("*").cast("double").alias("_tf"))
    )
    df_t = tf.groupBy("_tk").agg(F.count("*").cast("double").alias("_df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    term_score = idf * (
        F.col("_tf") * (k1 + 1.0)
        / (
            F.col("_tf")
            + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df_t), "_tk")
        .crossJoin(F.broadcast(stats))
        .groupBy("_id")
        .agg(F.round(F.sum(term_score), 4).alias("bm25"))
        .select(F.col("_id").alias(id_col), "bm25")
    )


def gopher_quality(
    df: DataFrame,
    text_col: str,
    id_col: str,
    stopwords: tuple[str, ...] = ("the", "a", "and", "of", "to", "in"),
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1
    reconstruction): word-count bounds, mean-word-length band
    [3, 10], ≥80% words containing an alphabetic character, and ≥2
    distinct stopwords present. Emits the per-rule signals plus the
    combined keep flag, so downstream mixtures can re-weight rules
    instead of re-scanning text.

    Everything is array-lambda expression work over one tokenize —
    scan-side, zero shuffles at any corpus size.
    """
    tks = tokens_ws(F.col(text_col))
    n = F.size(tks).cast("bigint")
    mwl = F.round(
        F.aggregate(
            F.transform(tks, lambda x: F.length(x).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / n,
        4,
    )
    frac_alpha = F.round(
        F.size(F.filter(tks, lambda x: x.rlike("[a-zA-Z]"))) / n, 4
    )
    stop_hits = sum(
        F.array_contains(tks, w).cast("int") for w in stopwords
    )
    out = df.select(
        F.col(id_col),
        n.alias("n_words"),
        mwl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha"),
        stop_hits.alias("stop_hits"),
    ).filter(F.col("n_words") > 0)
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("frac_alpha") >= 0.8)
        & (F.col("stop_hits") >= 2)
    ).cast("int")
    return out.withColumn("keep", keep)


def unigram_perplexity(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document perplexity under a corpus-wide unigram LM — the
    classic cheap importance / quality signal (high ppl = rare-token
    soup, very low ppl = repetitive boilerplate). p(t) = corpus
    count / corpus total; ppl = exp(-(Σ c_t·ln p_t)/n).

    Scale shape: per-(doc, token) counts aggregate FIRST (so the ln
    sum runs over distinct tokens, like token_entropy), the vocab
    frequency table is the second hash agg on the same token key
    (exchange reuse), and the corpus total is a 1-row broadcast.
    Three count-only shuffles at any corpus size; text never
    re-shuffles.
    """
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens_ws(F.col(text_col))).alias("_t"),
    )
    cnt = ex.groupBy("_id", "_t").agg(F.count("*").alias("_c"))
    vocab = cnt.groupBy("_t").agg(F.sum("_c").alias("_vc"))
    total = vocab.agg(F.sum("_vc").cast("double").alias("_tot"))
    return (
        cnt.join(vocab, "_t")
        .crossJoin(F.broadcast(total))
        .groupBy("_id")
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.round(
                F.exp(
                    -F.sum(
                        F.col("_c")
                        * F.log(F.col("_vc") / F.col("_tot"))
                    )
                    / F.sum("_c")
                ),
                4,
            ).alias("ppl"),
        )
        .select(F.col("_id").alias(id_col), "n_tokens", "ppl")
    )


def bigram_nll(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document average negative log-likelihood under a
    corpus-wide add-one-smoothed BIGRAM LM — the next quality signal
    up from ``unigram_perplexity``: word-order-aware, so shuffled or
    machine-garbled text scores high even when its unigram profile
    looks normal. p(w2|w1) = (c(w1 w2)+1)/(c(w1·)+V), V = number of
    distinct context words.

    Scale shape (the t20 pattern, one level deeper): per-(doc,
    bigram) counts aggregate FIRST, the corpus bigram table is the
    second hash agg on the same gram key (exchange reuse), context
    counts reduce the bigram table again (grams never re-read the
    text), and V is a 1-row broadcast. Every shuffle carries counts
    only. Returns (id_col, n_bigrams, nll), nll unrounded.
    """
    from zappy_spark.operators.dedup import word_shingles

    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), 2)).alias("_g"),
    )
    cnt = ex.groupBy("_id", "_g").agg(F.count("*").alias("_c"))
    big = cnt.groupBy("_g").agg(F.sum("_c").alias("_bc"))
    ctx = big.groupBy(
        F.split("_g", " ").getItem(0).alias("_w1")
    ).agg(F.sum("_bc").alias("_cc"))
    v = ctx.agg(F.count("*").cast("double").alias("_v"))
    p = (F.col("_bc") + F.lit(1.0)) / (F.col("_cc") + F.col("_v"))
    return (
        cnt.join(big, "_g")
        .withColumn("_w1", F.split("_g", " ").getItem(0))
        .join(ctx, "_w1")
        .crossJoin(F.broadcast(v))
        .groupBy("_id")
        .agg(
            F.sum("_c").alias("n_bigrams"),
            (-F.sum(F.col("_c") * F.log(p)) / F.sum("_c")).alias("nll"),
        )
        .select(F.col("_id").alias(id_col), "n_bigrams", "nll")
    )


# The reference-slice perplexity ladder (the CCNet setup): t46
# add-one bigram → t48 absolute discounting → t49 bigram Kneser–Ney →
# t53 trigram Kneser–Ney. Each rung is an ``_LM``: its gram order, its
# fit (reference-slice docs → the stored artifact ``*_fit_model``
# returns), the read of its scoring tables from that artifact, and its
# probability Column. Every operator below is one of two paths over an
# ``_LM``: in-pass (fit on the md5-keyed reference slice, score the
# rest) or with-model (score every document against a stored
# artifact); both score through ``_doc_nll`` and verdict through
# ``_keep_drop_ledger``.
#
# Exactness: every model quantity is an exact BIGINT count, each
# probability is a handful of IEEE ops on sub-2^53 integers spelled in
# the SAME operator order as the DuckDB oracles (queries/
# pipeline_ops.py), and the per-document sum's partial-order residue
# (~1e-13) is absorbed by each cutoff's calibrated margin (the
# T*_PARAMS records and the margin tests). Every ledger column is an
# exact BIGINT; n_short counts documents with no n-gram, so the ledger
# accounts for every document.
#
# Scale: one corpus scan feeds the (doc, gram) hash agg; the model is
# a gram-keyed agg of the reference rows, and the tables derived from
# it are bounded aggregates; scoring joins carry counts only, never
# text; the 1-row constants are a broadcast; no doc-keyed join.

# t46 add-one: the single shared definition of (reference fraction,
# perplexity cutoff) used by the operator default, the corpus entry,
# its oracle, and the margin pin — the d50 precedent for parameter
# drift. The nearest document sits >= 1.2e-5 from ln(30.5) across all
# 3 SFs and both synth fixtures.
T46_PARAMS: dict[str, float] = {
    "ref_frac": 0.25,
    "ppl_cutoff": 30.5,
}

# t48 absolute discounting (the T46_PARAMS precedent); margin >= 4.6e-4
# at cutoff 28.5 across all 3 SFs and both fixtures.
T48_PARAMS: dict[str, float] = {
    "ref_frac": 0.25,
    "ppl_cutoff": 28.5,
}

# t49 bigram Kneser–Ney. The cutoff was chosen by a gap scan over the
# merged nll distribution of all 3 SFs + both synth fixtures (~416k
# scored docs): ln(45.5) sits in a real inter-cluster gap — nearest
# document >= 8.5e-3 on every dataset — and the split is non-vacuous
# at every scale the drop branch is verified at (sf0.01 2 drops, sf0.1
# 5, 10x 181, 100x 1923; sf0.001's 360 eval docs all keep). Mid-range
# "balanced" cutoffs were rejected by the same scan: the densest
# achievable margin there is ~6.5e-6 at the 100x fixture — a
# float-vs-hash coin flip, the failure the margin discipline exists to
# engineer away.
T49_PARAMS: dict[str, float] = {
    "ref_frac": 0.25,
    "ppl_cutoff": 45.5,
}

# t53 trigram Kneser–Ney, imported by the operator, the oracle builder
# and the tests. Cutoff 39.048 (perplexity) was chosen by the same gap
# scan: the widest interior gap is nll (3.6647322, 3.6648348) and
# ln(39.048) = 3.66479166 sits inside it, >= 4.3e-5 from the nearest
# document at every scale — ~8 orders above the per-doc sum's residue.
# Keeps and drops are both non-empty at every SF (209/151 at sf0.01,
# 369378/5265 at 100x). ``discount`` is the D every rung uses.
T53_PARAMS: dict[str, float] = {
    "ref_frac": 0.25,
    "ppl_cutoff": 39.048,
    "discount": 0.75,
}


def _docs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    ref_frac: float | None = None,
) -> DataFrame:
    """The ladder's one scan-side select: (_id, _grp, _ref, _txt). The
    reference flag is the house md5-keyed hex-prefix rule
    (operators/sampling.py — deterministic, engine-portable,
    append-stable), so the slice restriction is structural: the model
    aggregates only ``_ref`` rows and scoring reads only the others.
    With no ``ref_frac`` (stored-model scoring) no row is reference."""
    from zappy_spark.operators.sampling import _hash_key, sample_threshold

    ref = (
        F.lit(False)
        if ref_frac is None
        else _hash_key(id_col) < sample_threshold(ref_frac)
    )
    return df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_grp"),
        ref.alias("_ref"),
        F.col(text_col).alias("_txt"),
    )


def _grams(docs: DataFrame, n: int) -> DataFrame:
    """``docs`` plus its order-``n`` word shingles ``_gs`` and token
    array ``_ws`` as projected columns, so each explode and size reads
    a column: a higher-order expression inside a Generate or an
    aggregate would run interpreted, outside whole-stage codegen."""
    from zappy_spark.operators.dedup import word_shingles

    return docs.select(
        "*",
        word_shingles(F.col("_txt"), n, filter_empty=True).alias("_gs"),
        F.filter(F.split(F.col("_txt"), " "), lambda x: x != "").alias(
            "_ws"
        ),
    )


def _counts(ref: DataFrame, items: str, kind: str, g: str = "gram"):
    """Exact BIGINT count table (kind, g, c) of an exploded array."""
    return (
        ref.select(F.lit(kind).alias("kind"), F.explode(items).alias(g))
        .groupBy("kind", g)
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def _positive_or_raise(col: Column, what: str) -> Column:
    """Pass the model size through when positive, raise naming the
    operator when the trained model/vocabulary is empty: V=0 would turn
    the smoothed probability into a NULL-producing division and every
    scored document would silently vanish from n_keep/n_drop. A per-row
    WHEN on a 1-row broadcast frame: no cost on the healthy path and no
    eager driver job."""
    return F.when(col > 0, col).otherwise(
        F.raise_error(
            F.lit(
                f"{what}: empty reference slice/model — smoothing "
                "vocabulary V=0 would silently unaccount every "
                "scored document"
            )
        )
    )


def _add_one(count: str, total: Column, v: str) -> Column:
    return (F.coalesce(F.col(count), F.lit(0)) + F.lit(1.0)) / (
        total + F.col(v)
    )


def _discounted(count: str, total: str, n1p: str, backoff: Column):
    """Interpolated absolute discounting, (max(c − D, 0) + D·N1+·backoff)
    / total, falling back to ``backoff`` for an unseen context."""
    d = F.lit(T53_PARAMS["discount"])
    return F.when(F.col(total).isNull(), backoff).otherwise(
        (
            F.greatest(F.coalesce(F.col(count), F.lit(0)) - d, F.lit(0.0))
            + d * F.col(n1p) * backoff
        )
        / F.col(total)
    )


@dataclass(frozen=True)
class _LM:
    """One rung of the ladder. ``name`` is what the in-pass V guard
    raises with; ``fit`` maps reference-slice ``_grams`` rows to the
    stored artifact; ``tables`` reads (left-joined tables with their
    keys, 1-row constants) from an artifact; ``p`` is the
    probability."""

    name: str
    n: int
    fit: Callable[[DataFrame], DataFrame]
    tables: Callable[[DataFrame, str], tuple[list, DataFrame]]
    p: Callable[[], Column]

    def __call__(self, docs: DataFrame) -> DataFrame:
        """In-pass per-document scores (_id, _grp, _nll) of ``_docs``
        rows: fit on the reference slice, score the rest."""
        return self.score(_grams(docs, self.n))

    def score(
        self, grams: DataFrame, model: DataFrame | None = None, what=""
    ) -> DataFrame:
        """Per-document scores of the non-reference ``_grams`` rows
        against a stored ``model``, or, with none, against the model
        fit on the reference rows."""
        if model is None:
            # The model feeds every derived table and the scoring join;
            # the lazy checkpoint makes them read one materialization
            # (inside the consuming action) instead of each re-running
            # the corpus scan + shingle + aggregate chain.
            model = self.fit(grams.filter(F.col("_ref"))).localCheckpoint(
                eager=False
            )
            what = self.name
        return _doc_nll(grams, self, self.tables(model, what))


def _doc_nll(grams: DataFrame, lm: _LM, tables) -> DataFrame:
    """Per-document scores (_id, _grp, _nll) of the non-reference rows:
    the (doc, gram) count split into word columns _w1.._wn, left-joined
    to the estimator's tables, the 1-row constants broadcast, and
    nll = −Σ c·ln p / Σ c."""
    joins, consts = tables
    words = F.split("_g", " ")
    sc = (
        grams.filter(~F.col("_ref"))
        .select("_id", "_grp", F.explode("_gs").alias("_g"))
        .groupBy("_id", "_grp", "_g")
        .agg(F.count("*").alias("_c"))
        .select(
            "*", *[words.getItem(i).alias(f"_w{i + 1}") for i in range(lm.n)]
        )
    )
    for table, keys in joins:
        sc = sc.join(table, keys, "left")
    return (
        sc.crossJoin(F.broadcast(consts))
        .groupBy("_id", "_grp")
        .agg(
            (-F.sum(F.col("_c") * F.log(lm.p())) / F.sum("_c")).alias("_nll")
        )
    )


def _keep_drop_ledger(
    lm: _LM,
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    ppl_cutoff: float,
    ref_frac: float | None = None,
    model: DataFrame | None = None,
    what: str = "",
) -> DataFrame:
    """The per-group keep/drop ledger of either path. In-pass (no
    ``model``): (group, n_ref, n_eval, n_short, n_keep, n_drop). Against
    a stored ``model``: (group, n_docs, n_short, n_keep, n_drop), whose
    verdicts depend only on the document and the artifact, so the
    counters are additive. keep = nll < ln(ppl_cutoff); a group with no
    scored document reports exact-BIGINT zeros; ordered by group."""
    import math

    lncut = F.lit(math.log(ppl_cutoff))
    grams = _grams(_docs(df, text_col, id_col, group_col, ref_frac), lm.n)
    sc = lm.score(grams, model, what)
    cols = (
        ["n_ref", "n_eval", "n_short"]
        if model is None
        else ["n_docs", "n_short"]
    )
    base = grams.groupBy("_grp").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("_ref").cast("bigint")).alias("n_ref"),
        F.sum((~F.col("_ref")).cast("bigint")).alias("n_eval"),
        F.sum(
            ((~F.col("_ref")) & (F.size("_gs") == 0)).cast("bigint")
        ).alias("n_short"),
    )
    scored = sc.groupBy("_grp").agg(
        F.sum((F.col("_nll") < lncut).cast("bigint")).alias("_nk"),
        F.sum((F.col("_nll") >= lncut).cast("bigint")).alias("_nd"),
    )
    return (
        base.join(scored, "_grp", "left")
        .select(
            F.col("_grp").alias(group_col),
            *cols,
            F.coalesce(F.col("_nk"), F.lit(0)).cast("bigint").alias("n_keep"),
            F.coalesce(F.col("_nd"), F.lit(0)).cast("bigint").alias("n_drop"),
        )
        .orderBy(group_col)
    )


def _add1_tables(m: DataFrame, what: str):
    bg = m.select(F.col("gram").alias("_g"), F.col("bc").alias("_bc"))
    ctx = bg.groupBy(F.split("_g", " ").getItem(0).alias("_w1")).agg(
        F.sum("_bc").alias("_cc")
    )
    v = ctx.agg(F.count("*").cast("bigint").alias("_v")).select(
        _positive_or_raise(F.col("_v"), what).alias("_v")
    )
    return [(bg, "_g"), (ctx, "_w1")], v


# t46: p(w2|w1) = (c(w1 w2)+1)/(c(w1·)+V), V = distinct reference
# contexts; an unseen context scores 1/V.
_ADD1 = _LM(
    "xcorpus_perplexity",
    2,
    lambda ref: _counts(ref, "_gs", "bg").select(
        "gram", F.col("c").alias("bc")
    ),
    _add1_tables,
    lambda: _add_one("_bc", F.coalesce(F.col("_cc"), F.lit(0)), "_v"),
)


def _bigram_fit(ref: DataFrame) -> DataFrame:
    return _counts(ref, "_gs", "bg").unionByName(_counts(ref, "_ws", "ug"))


def _bigram_tables(m: DataFrame):
    """Bigram counts and per-context (c(w1·), N1+(w1·)) of a
    (kind, gram, c) artifact."""
    bg = m.filter(F.col("kind") == "bg").select(
        F.col("gram").alias("_g"), F.col("c").alias("_bc")
    )
    ctx = bg.groupBy(F.split("_g", " ").getItem(0).alias("_w1")).agg(
        F.sum("_bc").alias("_cc"),
        F.count("*").cast("bigint").alias("_n1p"),
    )
    return bg, ctx


def _absdisc_tables(m: DataFrame, what: str):
    bg, ctx = _bigram_tables(m)
    uni = m.filter(F.col("kind") == "ug").select(
        F.col("gram").alias("_w2"), F.col("c").alias("_uc")
    )
    uv = uni.agg(
        F.count("*").cast("bigint").alias("_vu"),
        F.sum("_uc").cast("bigint").alias("_totu"),
    ).select(_positive_or_raise(F.col("_vu"), what).alias("_vu"), "_totu")
    return [(bg, "_g"), (ctx, "_w1"), (uni, "_w2")], uv


# t48: discounting backed off to the add-one reference unigram
# p_u(w2) = (c(w2)+1)/(N+V).
_ABSDISC = _LM(
    "absdisc_perplexity",
    2,
    _bigram_fit,
    _absdisc_tables,
    lambda: _discounted(
        "_bc", "_cc", "_n1p", _add_one("_uc", F.col("_totu"), "_vu")
    ),
)


def _kn_tables(m: DataFrame, what: str):
    bg, ctx = _bigram_tables(m)
    cont = bg.groupBy(F.split("_g", " ").getItem(1).alias("_w2")).agg(
        F.count("*").cast("bigint").alias("_cw2")
    )
    bv = m.agg(
        F.count(F.when(F.col("kind") == "bg", 1)).alias("_bt"),
        F.count(F.when(F.col("kind") == "ug", 1)).alias("_vu"),
    ).select("_bt", _positive_or_raise(F.col("_vu"), what).alias("_vu"))
    return [(bg, "_g"), (ctx, "_w1"), (cont, "_w2")], bv


# t49: discounting backed off to the continuation distribution
# p_c(w2) = (N1+(·w2)+1)/(N1+(··)+V).
_KN = _LM(
    "kneser_ney_perplexity",
    2,
    _bigram_fit,
    _kn_tables,
    lambda: _discounted(
        "_bc", "_cc", "_n1p", _add_one("_cw2", F.col("_bt"), "_vu")
    ),
)


def _kn3_fit(ref: DataFrame) -> DataFrame:
    vocab = ref.select(F.explode("_ws").alias("_w")).agg(
        F.count_distinct("_w").cast("bigint").alias("c")
    )
    return _counts(ref, "_gs", "tri", "g").unionByName(
        vocab.select(
            F.lit("vocab").alias("kind"),
            F.lit(None).cast("string").alias("g"),
            "c",
        )
    )


def _kn3_tables(m: DataFrame, what: str):
    words = F.split("g", " ")
    tri = m.filter(F.col("kind") == "tri").select(
        *[words.getItem(i).alias(f"_w{i + 1}") for i in range(3)],
        F.col("c").alias("_tc"),
    )
    ctx3 = tri.groupBy("_w1", "_w2").agg(
        F.sum("_tc").alias("_c3"),
        F.count("*").cast("bigint").alias("_n1p3"),
    )
    # bgc feeds ctx2, uc, the constants and the scoring join
    bgc = (
        tri.groupBy("_w2", "_w3")
        .agg(F.count("*").cast("bigint").alias("_n1pb"))
        .localCheckpoint(eager=False)
    )
    ctx2 = bgc.groupBy("_w2").agg(
        F.sum("_n1pb").alias("_cb"),
        F.count("*").cast("bigint").alias("_n1p2"),
    )
    uc = bgc.groupBy("_w3").agg(F.count("*").cast("bigint").alias("_cw"))
    # N1+(··) counts the bgc rows, V sums the vocab row: one aggregate
    bv = (
        bgc.select(F.lit(1).alias("_b"))
        .unionByName(
            m.filter(F.col("kind") == "vocab"), allowMissingColumns=True
        )
        .agg(F.count("_b").alias("_bt"), F.sum("c").alias("_vu"))
        .select("_bt", _positive_or_raise(F.col("_vu"), what).alias("_vu"))
    )
    joins = [
        (tri, ["_w1", "_w2", "_w3"]),
        (ctx3, ["_w1", "_w2"]),
        (bgc, ["_w2", "_w3"]),
        (ctx2, "_w2"),
        (uc, "_w3"),
    ]
    return joins, bv


# t53: the two-level KN recursion. The bigram level runs on
# continuation counts of the deduped trigram table and backs off to
# t49's add-one continuation floor.
_KN3 = _LM(
    "kn3_perplexity",
    3,
    _kn3_fit,
    _kn3_tables,
    lambda: _discounted(
        "_tc",
        "_c3",
        "_n1p3",
        _discounted(
            "_n1pb", "_cb", "_n1p2", _add_one("_cw", F.col("_bt"), "_vu")
        ),
    ),
)


def _fit(lm: _LM, df, text_col: str, id_col: str, ref_frac: float):
    ref = _docs(df, text_col, id_col, id_col, ref_frac).filter(F.col("_ref"))
    return lm.fit(_grams(ref, lm.n))


def xcorpus_perplexity_ledger(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    ref_frac: float = 0.25,
    ppl_cutoff: float = 30.5,
) -> DataFrame:
    """Cross-corpus perplexity filtering — the CCNet/KenLM setup: unlike
    t20/t23 (which score documents against counts from the SAME
    corpus), this trains an add-one-smoothed bigram LM on a
    deterministic REFERENCE SLICE and scores only the REMAINING
    documents with it — the train/score split a production quality
    pipeline runs, with smoothing handling n-grams the reference never
    saw:

        p(w2|w1) = (c(w1 w2)+1)/(c(w1·)+V), unseen context → 1/V

    with V the number of distinct reference contexts.

    Returns (group, n_ref, n_eval, n_short, n_keep, n_drop)."""
    return _keep_drop_ledger(
        _ADD1, df, text_col, id_col, group_col, ppl_cutoff, ref_frac
    )


def xcorpus_fit_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ref_frac: float = 0.25,
) -> DataFrame:
    """The deployable artifact of t46's training half: the exact BIGINT
    bigram count table (gram, bc) of the md5-keyed reference slice.
    Context totals and V re-derive from it, so one small table is the
    whole model (write it to parquet, ship it)."""
    return _fit(_ADD1, df, text_col, id_col, ref_frac)


def xcorpus_ledger_with_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    model: DataFrame,
    ppl_cutoff: float = 30.5,
) -> DataFrame:
    """Score EVERY document against a fixed ``xcorpus_fit_model``
    artifact under t46's probability: per-group keep/drop ledger
    (group, n_docs, n_short, n_keep, n_drop), all exact BIGINTs and
    additive — the streaming drift monitor's micro-batch partial IS
    this operator."""
    return _keep_drop_ledger(
        _ADD1,
        df,
        text_col,
        id_col,
        group_col,
        ppl_cutoff,
        model=model,
        what="xcorpus_ledger_with_model",
    )


def absdisc_perplexity_ledger(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    ref_frac: float = 0.25,
    ppl_cutoff: float = 28.5,
) -> DataFrame:
    """Cross-corpus perplexity filtering with INTERPOLATED ABSOLUTE
    DISCOUNTING and unigram backoff — the KenLM-style estimator CCNet
    deploys (t46 is the add-one baseline). A bigram LM trained on the
    md5-keyed reference slice scores the remaining documents with

        p(w2|w1) = (max(c(w1 w2) − D, 0) + D·N1+(w1·)·p_u(w2)) / c(w1·)

    (D = 0.75, N1+(w1·) = distinct continuations of w1, p_u = add-one
    unigram over the reference vocabulary), backing off to p_u entirely
    for unseen contexts — frequent bigrams keep nearly their ML
    estimate while the discount mass D·N1+ funds the backoff.

    Returns (group, n_ref, n_eval, n_short, n_keep, n_drop)."""
    return _keep_drop_ledger(
        _ABSDISC, df, text_col, id_col, group_col, ppl_cutoff, ref_frac
    )


def absdisc_fit_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ref_frac: float = 0.25,
) -> DataFrame:
    """The deployable artifact of t48's training half: ONE table
    (kind, gram, c) holding both exact-BIGINT count tables of the
    md5-keyed reference slice — ``kind='bg'`` rows are the bigram
    counts c(w1 w2), ``kind='ug'`` rows the unigram token counts c(w).
    Context totals, N1+, V and the token total re-derive from it, so
    one small artifact is the whole model for both discounted
    estimators (``absdisc_ledger_with_model``, ``kn_ledger_with_model``)."""
    return _fit(_ABSDISC, df, text_col, id_col, ref_frac)


def absdisc_ledger_with_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    model: DataFrame,
    ppl_cutoff: float = 28.5,
) -> DataFrame:
    """Score EVERY document against a fixed ``absdisc_fit_model``
    artifact under t48's probability: per-group keep/drop ledger
    (group, n_docs, n_short, n_keep, n_drop), all exact BIGINTs and
    additive — the streaming drift monitor's micro-batch partial IS
    this operator."""
    return _keep_drop_ledger(
        _ABSDISC,
        df,
        text_col,
        id_col,
        group_col,
        ppl_cutoff,
        model=model,
        what="absdisc_ledger_with_model",
    )


def kneser_ney_perplexity_ledger(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    ref_frac: float = 0.25,
    ppl_cutoff: float = 45.5,
) -> DataFrame:
    """Cross-corpus perplexity filtering with INTERPOLATED KNESER–NEY
    smoothing — the KenLM default, the ladder's next rung after t48:
    absolute discounting where the backoff uses CONTINUATION counts
    instead of raw unigram frequency,

        p(w2|w1) = (max(c(w1 w2) − D, 0) + D·N1+(w1·)·p_c(w2)) / c(w1·)
        p_c(w2)  = (N1+(·w2) + 1) / (N1+(··) + V)

    with D = 0.75, N1+(·w2) = distinct left contexts of w2 ("in how
    many novel combinations has w2 appeared" — 'Francisco' is frequent
    but only ever follows 'San'), N1+(··) = bigram types, V = reference
    unigram vocabulary (the +1/+V floor keeps p_c defined for words the
    reference never saw as a continuation). Unseen contexts back off to
    p_c entirely.

    Returns (group, n_ref, n_eval, n_short, n_keep, n_drop)."""
    return _keep_drop_ledger(
        _KN, df, text_col, id_col, group_col, ppl_cutoff, ref_frac
    )


def kn_ledger_with_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    model: DataFrame,
    ppl_cutoff: float = 45.5,
) -> DataFrame:
    """Score EVERY document against a fixed ``absdisc_fit_model``
    artifact under t49's Kneser–Ney probability — one stored artifact
    serves both discounted families, so switching families is a
    scoring-time decision, not a retrain. Per-group keep/drop ledger
    (group, n_docs, n_short, n_keep, n_drop), all exact BIGINTs and
    additive — the streaming drift monitor's micro-batch partial IS
    this operator."""
    return _keep_drop_ledger(
        _KN,
        df,
        text_col,
        id_col,
        group_col,
        ppl_cutoff,
        model=model,
        what="kn_ledger_with_model",
    )


def kn3_perplexity_ledger(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    ref_frac: float = 0.25,
    ppl_cutoff: float = 39.048,
) -> DataFrame:
    """Cross-corpus perplexity filtering with TRIGRAM interpolated
    Kneser–Ney smoothing — order 3 is where the KN recursion
    (discounted raw counts at the top, continuation counts at every
    lower level) first fully exercises:

        p(w3|w1w2) = (max(c(w1w2w3)−D, 0) + D·N1+(w1w2·)·p2) / c(w1w2·)
        p2(w3|w2)  = (max(N1+(·w2w3)−D, 0) + D·N1+(w2·)·p_c) / N1+(·w2·)
        p_c(w3)    = (N1+(·w3) + 1) / (N1+(··) + V)

    Unseen trigram contexts back off to p2, unseen bigram contexts to
    p_c. n_short counts docs with fewer than 3 tokens.

    Returns (group, n_ref, n_eval, n_short, n_keep, n_drop)."""
    return _keep_drop_ledger(
        _KN3, df, text_col, id_col, group_col, ppl_cutoff, ref_frac
    )


def kn3_fit_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ref_frac: float = 0.25,
) -> DataFrame:
    """The deployable artifact of t53's training half: ONE table
    (kind, g, c) carrying the reference trigram counts (kind='tri',
    g = 'w1 w2 w3') and the reference unigram vocabulary size
    (kind='vocab', g NULL). Every other model quantity re-derives from
    the trigram rows; V ships explicitly because words in sub-trigram
    documents never reach the trigram table."""
    return _fit(_KN3, df, text_col, id_col, ref_frac)


def kn3_ledger_with_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    model: DataFrame,
    ppl_cutoff: float = 39.048,
) -> DataFrame:
    """Score EVERY document against a fixed ``kn3_fit_model`` artifact
    under t53's probability: per-group keep/drop ledger (group, n_docs,
    n_short, n_keep, n_drop), all exact BIGINTs and additive — the
    streaming drift monitor's micro-batch partial IS this operator. V
    is read from the stored vocab row by an aggregate, so an empty or
    degenerate model hits the V guard."""
    return _keep_drop_ledger(
        _KN3,
        df,
        text_col,
        id_col,
        group_col,
        ppl_cutoff,
        model=model,
        what="kn3_ledger_with_model",
    )


def rag_chunk_overlap_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    max_tokens: int = 40,
    overlap: int = 8,
    gram_k: int = 5,
) -> DataFrame:
    """Cross-document redundancy audit over RAG chunks — the
    retrieval-index health check: after ``chunk_tokens`` splits the
    corpus into context windows, how many chunks are ≥50% composed
    of shingles that also occur in ANOTHER document's chunks? A
    redundant chunk wastes index space and crowds retrieval results
    with near-copies (why RAG pipelines dedup at chunk granularity,
    not doc granularity — a doc-unique page can still carry a
    boilerplate chunk).

    Within-doc sharing never counts (consecutive chunks overlap by
    construction), and the redundancy verdict is the exact integer
    comparison shared*2 >= total — no division, no ROUND.

    Returns per group: (group, n_chunks, n_redundant, shared_grams,
    total_grams), all BIGINT.

    Scale: chunking and shingling are scan-side array lambdas;
    gram→distinct-doc counting is one md5-free hash agg (grams are
    the keys — balanced, high-cardinality); the join back is
    co-partitioned. The only row multiplication is the standard
    shingle explode."""
    from zappy_spark.operators.dedup import word_shingles

    chunks = chunk_tokens(df, text_col, id_col, max_tokens, overlap)
    grp = df.select(F.col(id_col).alias("_did"), F.col(group_col))
    cg = (
        chunks.select(
            F.col(id_col).alias("_did"),
            "chunk_id",
            F.explode(
                word_shingles(F.col("chunk_text"), gram_k)
            ).alias("_gm"),
        )
        .distinct()
    )
    gdocs = cg.select("_did", "_gm").distinct().groupBy("_gm").agg(
        F.countDistinct("_did").alias("_nd")
    )
    per_chunk = (
        cg.join(gdocs, "_gm")
        .groupBy("_did", "chunk_id")
        .agg(
            F.count("*").alias("_tot"),
            F.sum((F.col("_nd") >= 2).cast("bigint")).alias("_shr"),
        )
    )
    return (
        per_chunk.join(grp, "_did")
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                (F.col("_shr") * 2 >= F.col("_tot")).cast("bigint")
            ).alias("n_redundant"),
            F.sum("_shr").cast("bigint").alias("shared_grams"),
            F.sum("_tot").cast("bigint").alias("total_grams"),
        )
    )


def freq_of_freqs(
    df: DataFrame, text_col: str, k: int = 3, cap: int = 11
) -> DataFrame:
    """Good–Turing frequency-of-frequencies over word k-grams — the
    Zipf-tail audit behind smoothing estimates and dedup-threshold
    studies: how many gram TYPES occur exactly f times (f capped at
    ``cap`` for the head). Singleton mass (f=1) estimates unseen
    probability; a fat f=1 tail means the corpus is still growing
    vocabulary, a thin one means it's saturating (or duplicated).

    Returns (freq_class, n_types, mass) — all exact BIGINTs, zero
    divisions (the round-7 probe discipline). Two hash aggs: gram
    counts (md5-free, balanced keys), then the ≤cap-row spectrum."""
    from zappy_spark.operators.dedup import word_shingles

    g = df.select(
        F.explode(
            word_shingles(F.col(text_col), k, filter_empty=True)
        ).alias("_g")
    )
    c = g.groupBy("_g").agg(F.count("*").alias("_c"))
    return (
        c.withColumn(
            "freq_class", F.least(F.col("_c"), F.lit(cap)).cast("int")
        )
        .groupBy("freq_class")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("_c").cast("bigint").alias("mass"),
        )
    )


# Unicode script/charset ranges for charset_class_counts: each class
# is a character-class regex; a character's class is the FIRST match
# (classes are disjoint here, so order only matters for 'other').
# All counting is length(x) - length(regexp_replace(x, cls, '')) —
# one JVM regexp per class, no Python, portable to any engine with
# POSIX-ish regexps (the DuckDB oracle uses the same spelling).
CHARSET_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", "[ \\t\\r\\n]"),
    ("cyrillic", "[\\u0400-\\u04FF]"),
    ("greek", "[\\u0370-\\u03FF]"),
    ("arabic", "[\\u0600-\\u06FF]"),
    ("cjk", "[\\u4E00-\\u9FFF\\u3040-\\u30FF\\uAC00-\\uD7AF]"),
)


def charset_class_counts(
    df: DataFrame, text_col: str, classes=CHARSET_CLASSES
) -> DataFrame:
    """Per-row character-class counts — the script/charset detection
    primitive (round 8, VERDICT r7 item 6): language-mixture audits,
    mojibake/garbled-payload detection, and the script prior a
    lang-ID gate (t04/t31) consumes all start from "how many chars
    of each script does this text contain". Adds one ``n_<class>``
    BIGINT column per configured class plus ``n_other`` (chars in no
    class) and ``n_total``; all counts are exact, computed JVM-side
    as length deltas of regexp_replace — no tokenizer, no UDF.

    Scale: per-row expressions only (no shuffle, no join); codegen
    keeps the regexps inside the scan stage."""
    cols = [F.col(c) for c in df.columns]
    total = F.length(F.col(text_col)).cast("bigint")
    out_cols = []
    covered = None
    for name, pat in classes:
        n = (
            F.length(F.col(text_col))
            - F.length(F.regexp_replace(F.col(text_col), pat, ""))
        ).cast("bigint")
        out_cols.append(n.alias(f"n_{name}"))
        covered = n if covered is None else covered + n
    return df.select(
        *cols,
        total.alias("n_total"),
        *out_cols,
        (total - covered).cast("bigint").alias("n_other"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top collocations by pointwise mutual information (round 8 —
    Church & Hanks 1990, the standard association measure behind
    phrase mining and tokenizer-merge candidates): for adjacent word
    pairs, PMI = ln(n_ab·N / (n_a·n_b)). Every OUTPUT column is an
    exact BIGINT count (the probe discipline: consumers holding the
    integers can compute any score); PMI itself appears only as the
    ORDER key, spelled as the raw double ratio n_ab·N/(n_a·n_b) —
    ln is monotone, so the ranking is identical, and the ratio of
    exact sub-2^53 integers is ONE deterministic IEEE division both
    engines compute bit-identically. Ties break on the bigram text.

    Returns (bigram, n_ab, n_a, n_b) — the ``top_k`` pairs with
    n_ab ≥ ``min_count``.

    Scale: one tokenize pass feeds both the unigram and bigram
    hash aggs (balanced keys); N is a 1-row broadcast crossJoin,
    computed as Σ max(tokens−1, 0) per doc — a scan-only partial
    agg with NO bigram shuffle and no persist (the round-8 spelling
    cached the grouped bigram table to share it between the filter
    branch and the N sum, but never unpersisted — an executor-
    storage leak under repeated invocation; this form is leak-free
    and drops the second shuffle entirely). The two unigram joins
    are broadcast-size after min_count pruning only on the bigram
    side — at corpus scale they stay shuffle equi-joins on the
    token key. Top-k compiles to TakeOrderedAndProject."""
    from zappy_spark.operators.dedup import word_shingles

    toks_expr = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    toks = df.select(F.explode(toks_expr).alias("_w"))
    uni = toks.groupBy("_w").agg(F.count("*").alias("_n"))
    big = (
        df.select(
            F.explode(
                word_shingles(F.col(text_col), 2, filter_empty=True)
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    # N = total bigram count = Σ max(|tokens|−1, 0): identical to
    # summing n_ab over all groups, but computable from the scan
    total = df.agg(
        F.sum(
            F.greatest(F.size(toks_expr) - F.lit(1), F.lit(0))
        ).alias("_N")
    )
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    joined = (
        big.withColumn("_w1", w1)
        .withColumn("_w2", w2)
        .join(
            uni.select(F.col("_w").alias("_w1"), F.col("_n").alias("n_a")),
            "_w1",
        )
        .join(
            uni.select(F.col("_w").alias("_w2"), F.col("_n").alias("n_b")),
            "_w2",
        )
        .crossJoin(F.broadcast(total))
    )
    ratio = (
        F.col("n_ab").cast("double")
        * F.col("_N").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        joined.orderBy(ratio.desc(), F.col("bigram"))
        .select(
            "bigram",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
        )
        .limit(top_k)
    )


def _bpe_base_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(freq, symbol-string) vocabulary a BPE loop iterates over:
    lowercased ``^[a-z0-9]+$`` whitespace tokens, ONE hash agg
    (Heaps-law bounded — corpus-size-independent thereafter), each
    word's symbols as the ``|c1||c2||…|`` delimiter-wrapped string."""
    return (
        df.select(
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
            ).alias("_w0")
        )
        .select(F.lower("_w0").alias("_w"))
        .filter(F.col("_w").rlike("^[a-z0-9]+$"))
        .groupBy("_w")
        .agg(F.count("*").alias("_f"))
        .select("_f", F.regexp_replace("_w", "(.)", "|$1|").alias("_s"))
    )


def bpe_apply_merges(
    sym_string: Column, merges: list[tuple[str, str]]
) -> Column:
    """Apply a merge schedule (in order) to a ``|s1||s2||…|`` symbol
    string: each merge is ONE plain left-to-right replace — exact
    greedy BPE application (see bpe_train_merges)."""
    out = sym_string
    for lhs, rhs in merges:
        out = F.replace(out, F.lit(f"|{lhs}||{rhs}|"), F.lit(f"|{lhs}{rhs}|"))
    return out


def _merge_steps(
    state: DataFrame, pair_top1, apply_merges, n_merges: int
) -> list[Row]:
    """The driver loop shared by the BPE and WordPiece trainers:
    ``n_merges`` jobs over the checkpointed ``state`` vocab (``_f``
    freq, ``_s`` symbol string), each collecting exactly ONE row —
    the step's winning pair from ``pair_top1`` — whose merge then
    re-enters the plan as a literal through ``apply_merges`` (the
    v09 Lloyd's centroids-as-literals precedent, lineage linear in
    n_merges). Stops early when no pair is left."""
    steps: list[Row] = []
    for _ in range(n_merges):
        top = pair_top1(state).collect()
        if not top:
            break
        steps.append(top[0])
        merge = (top[0]["lhs"], top[0]["rhs"])
        state = state.withColumn("_s", apply_merges(F.col("_s"), [merge]))
    return steps


def _bpe_steps(df: DataFrame, text_col: str, n_merges: int) -> list[Row]:
    """The BPE loop's per-step (lhs, rhs, pair_n) winners."""
    state = _bpe_base_vocab(df, text_col).localCheckpoint()
    return _merge_steps(state, _bpe_pair_top1, bpe_apply_merges, n_merges)


def bpe_discover_merges(
    df: DataFrame, text_col: str, n_merges: int
) -> list[tuple[str, str]]:
    """Run the BPE training loop and return the merge schedule as
    driver literals (see _merge_steps)."""
    return [(r["lhs"], r["rhs"]) for r in _bpe_steps(df, text_col, n_merges)]


def bpe_segment_stats(
    df: DataFrame,
    text_col: str,
    group_col: str,
    n_merges: int = 6,
) -> DataFrame:
    """Subword segmentation audit — the APPLY half of tokenizer
    training (train K merges, apply, re-count): per ``group_col``,
    the corpus token economics under the trained merges. Returns
    (group, n_words, n_chars, n_subwords, n_oov_words) — all exact
    BIGINTs. ``n_subwords`` is Σ per-word symbol count after the
    merge schedule; fertility = n_subwords / n_words and the
    compression ratio n_chars / n_subwords are one division away
    for consumers holding the integers (the probe discipline).
    Out-of-scope words (anything not lowercase ``[a-z0-9]+`` after
    lowering — the same pre-tokenizer scope training used) are
    counted separately, not segmented.

    Scale: after the discovery jobs (vocab-sized, 1-row collects),
    the audit is ONE corpus scan with NO join: a word's subword
    count is a deterministic expression of the word itself (wrap →
    K literal replaces → count), so the merge table never ships —
    it is compiled INTO the scan — and the only shuffle is the
    |groups|-row final agg."""
    merges = bpe_discover_merges(df, text_col, n_merges)
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("_w0"),
    ).select("grp", F.lower("_w0").alias("_w"))
    in_scope = F.col("_w").rlike("^[a-z0-9]+$")
    seg = bpe_apply_merges(
        F.regexp_replace("_w", "(.)", "|$1|"), merges
    )
    n_sym = F.size(F.filter(F.split(seg, "\\|"), lambda x: x != ""))
    return (
        tok.select(
            "grp",
            in_scope.cast("bigint").alias("_in"),
            F.when(in_scope, F.length("_w")).otherwise(0).alias("_ch"),
            F.when(in_scope, n_sym).otherwise(0).alias("_ns"),
        )
        .groupBy("grp")
        .agg(
            F.sum("_in").alias("n_words"),
            F.sum("_ch").cast("bigint").alias("n_chars"),
            F.sum("_ns").cast("bigint").alias("n_subwords"),
            (F.count("*") - F.sum("_in")).alias("n_oov_words"),
        )
        .withColumnRenamed("grp", group_col)
    )


def _bpe_pair_top1(state: DataFrame) -> DataFrame:
    """Best adjacent symbol pair of a BPE state frame (``_f`` word
    freq, ``_s`` the ``|s1||s2||…|`` symbol string): explode adjacent
    pairs, ONE hash agg of Σfreq (overlapping occurrences counted,
    Sennrich's get_stats convention), deterministic argmax =
    TakeOrderedAndProject on (count DESC, lhs, rhs)."""
    arr = F.filter(F.split("_s", "\\|"), lambda x: x != "")
    pairs = F.zip_with(
        F.slice(arr, 1, F.size(arr) - 1),
        F.slice(arr, 2, F.size(arr) - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        state.select("_f", F.explode(pairs).alias("_p"))
        .groupBy(
            F.col("_p.l").alias("lhs"), F.col("_p.r").alias("rhs")
        )
        .agg(F.sum("_f").alias("pair_n"))
        .orderBy(F.col("pair_n").desc(), "lhs", "rhs")
        .limit(1)
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 6,
) -> DataFrame:
    """Iterative BPE merge-loop tokenizer training (round 9 — the
    Sennrich/Haddow/Birch 2016 algorithm behind every production
    subword vocabulary; t34's PMI pass mines merge *candidates*,
    this trains the actual merge schedule): ``n_merges`` iterations
    of count-adjacent-pairs → pick the most frequent (deterministic
    tie-break: count DESC, then lhs/rhs byte order) → greedily merge
    every left-to-right occurrence.

    Returns one row per merge step: (step, lhs, rhs, merged,
    pair_n) — the merge schedule, byte/integer-exact.

    Exactness trick: a word's symbol sequence is ONE string with
    every symbol in its own ``|…|`` wrapper (``cat`` →
    ``|c||a||t|``), built by ``regexp_replace(w,'(.)','|$1|')``.
    Merging pair (l, r) is then a single plain
    ``replace(s,'|l||r|','|lr|')`` — left-to-right non-overlapping
    replace IS greedy BPE application, symbol boundaries can't be
    crossed (each symbol carries its own delimiters), and DuckDB's
    ``replace`` has identical semantics, so the oracle replays the
    whole loop bit-for-bit. The vocabulary is lowercased
    ``^[a-z0-9]+$`` tokens (the pre-tokenized scope every BPE
    trainer assumes), which also guarantees '|' never collides.

    Scale: the corpus collapses to the (word, freq) vocabulary with
    ONE hash agg — Heaps-law bounded (~10M rows even at 100 TB), so
    every later iteration touches the vocab, never the corpus. Each
    iteration = one narrow pair-explode + one map-side-combinable
    hash agg + a 1-ROW driver collect (the v09 Lloyd's
    centroids-as-literals precedent); merges re-enter the plan as
    literals, keeping lineage LINEAR in n_merges (a fully-lazy
    nesting would re-expand the upstream 2^k times). Each step's
    argmax is a TakeOrderedAndProject (no global sort anywhere), and
    the collected winners ARE the result: the returned frame holds
    those rows, so collecting it runs no aggregation again."""
    rows = [
        (step, r["lhs"], r["rhs"], r["lhs"] + r["rhs"], r["pair_n"])
        for step, r in enumerate(_bpe_steps(df, text_col, n_merges), start=1)
    ]
    return df.sparkSession.createDataFrame(
        rows, "step int, lhs string, rhs string, merged string, pair_n bigint"
    )


# Token-ID encoding (round 10, VERDICT r9 item 5 — the artifact a
# training pipeline actually materializes): base alphabet [a-z0-9]
# gets ids 0..35 in byte order, trained merge products get ids
# 36..35+K in merge order (FIRST occurrence wins when two merge
# steps concatenate to the same string — dict.setdefault here, CASE
# order in the SQL twin, so the precedence cannot drift). The id of
# a symbol is a pure function of the symbol string, so the lookup
# table compiles INTO the scan as a map literal (the t41 trick) —
# no join ever ships it.
TOKEN_ID_BASE = "abcdefghijklmnopqrstuvwxyz0123456789"
TOKEN_ID_UNK = -1


def token_id_table(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic symbol -> id table for a trained merge
    schedule: 36 base chars then one id per merge step; '<unk>'
    maps to TOKEN_ID_UNK. A later merge whose product collides with
    an earlier one is SHADOWED (setdefault) — segmentation can emit
    the string only once, so the table stays a function."""
    ids: dict[str, int] = {c: i for i, c in enumerate(TOKEN_ID_BASE)}
    for step, (lhs, rhs) in enumerate(merges, start=1):
        ids.setdefault(lhs + rhs, 35 + step)
    ids["<unk>"] = TOKEN_ID_UNK
    return ids


def encode_token_ids(
    df: DataFrame,
    text_col: str,
    group_col: str,
    n_merges: int = 6,
) -> DataFrame:
    """Token-ID encode + per-source id histogram — completes the
    tokenizer story (t37 trains the merges, t39 audits fertility,
    this emits the ids): every in-scope word (lowercased
    ``[a-z0-9]+``, the training scope) is segmented by the trained
    schedule and each subword becomes its vocabulary id; an
    out-of-scope word becomes ONE ``<unk>`` token (id -1) — the
    explicit UNK policy, which also makes the histogram's UNK row
    the per-source OOV count. Returns (group, token_id, token, n),
    exact BIGINT counts.

    Detokenize identity holds by construction — a word's subwords
    concatenate back to the word (symbol wrappers only ever merge,
    never drop bytes) and the id table is invertible on non-shadowed
    ids — and is pinned as a property test rather than re-asserted
    per row here.

    Scale: after the vocab-bounded discovery jobs, ONE corpus scan
    aggregates to the deduped (group, word, count) vocabulary
    (Heaps-bounded, map-side combinable); the K-literal-replace
    segmentation (t39's compile-the-merges trick) and the 43-entry
    map-literal id lookup (t41's trick) then run once per DISTINCT
    word, not per occurrence, and the histogram weights each
    symbol by the word's count — the same re-spell the DuckDB twin
    got (124s -> 35s at 100x) and identical results, because a
    word's id sequence is a pure function of the word (round-11
    ADVICE). The only shuffles are the vocab agg and the
    |groups| x |vocab| histogram agg, both bounded."""
    merges = bpe_discover_merges(df, text_col, n_merges)
    ids = token_id_table(merges)
    id_map = F.create_map(
        *[F.lit(x) for kv in ids.items() for x in kv]
    )
    vocab = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
            ).alias("_w0"),
        )
        .select("grp", F.lower("_w0").alias("_w"))
        .groupBy("grp", "_w")
        .agg(F.count("*").alias("_c"))
    )
    in_scope = F.col("_w").rlike("^[a-z0-9]+$")
    seg = bpe_apply_merges(
        F.regexp_replace("_w", "(.)", "|$1|"), merges
    )
    syms = F.filter(F.split(seg, "\\|"), lambda x: x != "")
    arr = F.when(in_scope, syms).otherwise(
        F.array(F.lit("<unk>"))
    )
    return (
        vocab.select("grp", "_c", F.explode(arr).alias("token"))
        .select(
            "grp",
            "_c",
            F.coalesce(
                F.element_at(id_map, F.col("token")),
                F.lit(TOKEN_ID_UNK),
            ).alias("token_id"),
            "token",
        )
        .groupBy("grp", "token_id", "token")
        .agg(F.sum("_c").alias("n"))
        .withColumnRenamed("grp", group_col)
    )


def decode_token_ids(
    ids_arr: Column, merges: list[tuple[str, str]]
) -> Column:
    """Detokenize: map an array of token ids back to symbol strings
    via the inverted (non-shadowed) table and concatenate — the
    identity-audit half. Unknown/UNK ids decode to '<unk>'."""
    table = token_id_table(merges)
    inv: dict[int, str] = {}
    for sym, i in table.items():
        inv.setdefault(i, sym)
    dec_map = F.create_map(
        *[F.lit(x) for kv in inv.items() for x in kv]
    )
    return F.array_join(
        F.transform(
            ids_arr,
            lambda i: F.coalesce(
                F.element_at(dec_map, i), F.lit("<unk>")
            ),
        ),
        "",
    )


# Unigram-LM (SentencePiece-style) tokenizer training (round 11,
# VERDICT r10 item 2): fixed-point cost scale + the DP-infinity
# sentinel. Costs are scale-S integers (the v28 doctrine), so the
# per-word Viterbi DP is exact BIGINT arithmetic: sums are
# order-independent, tie-breaks are integer equalities, and the
# whole E-step trajectory is a deterministic integer sequence.
UNIGRAM_SCALE = 1_000_000
# Large enough that any path through a missing piece loses to any
# real path, small enough that stacked INFs stay inside BIGINT up
# to the enforced word-length cap below.
UNIGRAM_INF = 10**15

# int64 safety bound (round-12 ADVICE — previously a comment's
# unenforced "64 stacked INFs" claim): the DP's best-cost array
# grows by at most one UNIGRAM_INF (+ one real piece cost) per
# character, so best[n] <= n·(1e15 + ~2e7); at 4096 characters
# that is ~4.1e18, safely inside int64's 9.22e18, while 9300+
# all-missing characters would overflow. _viterbi_pieces RAISES on
# longer words (the loud-rejection doctrine) — a 4 KB single word
# is corpus garbage upstream filters should have dropped, and a
# silent wrong cost is the one outcome the exact-integer DP
# contract cannot absorb.
UNIGRAM_MAX_WORD_LEN = 4096


def _viterbi_pieces(
    word: Column, costs: dict[str, int], max_piece_len: int
) -> Column:
    """Viterbi segmentation of ``word`` under integer piece costs,
    as ONE column expression (no UDF): forward DP builds the exact
    best-cost array with F.aggregate, the backtrace walks it with a
    struct accumulator choosing the LONGEST piece achieving the
    optimum at each step (the pinned tie-break — an exact BIGINT
    equality, so both engines agree). Returns the piece array in
    word order."""
    cmap = F.create_map(*[F.lit(x) for kv in costs.items() for x in kv])
    inf = F.lit(UNIGRAM_INF).cast("bigint")

    def pc(start_1idx: Column, ln: int) -> Column:
        return F.coalesce(
            F.element_at(cmap, F.substring(word, start_1idx, ln)), inf
        )

    # enforced int64 bound (see UNIGRAM_MAX_WORD_LEN): raise before
    # the DP rather than overflow inside it
    n = F.when(
        F.length(word) <= F.lit(UNIGRAM_MAX_WORD_LEN), F.length(word)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "unigram Viterbi: word exceeds "
                    f"UNIGRAM_MAX_WORD_LEN={UNIGRAM_MAX_WORD_LEN} "
                    "(BIGINT best-cost overflow bound); length="
                ),
                F.length(word).cast("string"),
            )
        )
    )
    best = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(0).cast("bigint")),
        lambda acc, i: F.concat(
            acc,
            F.array(
                F.least(
                    *[
                        F.when(
                            i - ln >= 0,
                            F.element_at(acc, i - F.lit(ln) + 1)
                            + pc(i - F.lit(ln) + 1, ln),
                        ).otherwise(
                            # out-of-range arm: dominated by any
                            # in-range arm (L=1 always in range)
                            F.lit(100 * UNIGRAM_INF).cast("bigint")
                        )
                        for ln in range(1, max_piece_len + 1)
                    ]
                )
            ),
        ),
    )

    def bt_step(acc: Column, _: Column) -> Column:
        pos = acc["pos"]
        cur = F.element_at(acc["b"], pos + 1)
        chain = None
        for ln in range(max_piece_len, 0, -1):
            cond = (pos - ln >= 0) & (
                cur
                == F.element_at(acc["b"], pos - F.lit(ln) + 1)
                + pc(pos - F.lit(ln) + 1, ln)
            )
            upd = F.struct(
                (pos - F.lit(ln)).alias("pos"),
                F.concat(
                    acc["ps"],
                    F.array(F.substring(word, pos - F.lit(ln) + 1, F.lit(ln))),
                ).alias("ps"),
                acc["b"].alias("b"),
            )
            chain = F.when(cond, upd) if chain is None else chain.when(cond, upd)
        return F.when(pos <= 0, acc).otherwise(chain.otherwise(acc))

    bt = F.aggregate(
        F.sequence(F.lit(1), n),
        F.struct(
            n.alias("pos"),
            F.array().cast("array<string>").alias("ps"),
            best.alias("b"),
        ),
        bt_step,
    )
    return F.reverse(bt["ps"])


def _unigram_costs(counts: dict[str, int]) -> dict[str, int]:
    """M-step: scale-S integer costs from exact integer piece
    counts — cost(p) = floor(-ln(n_p / total) * S + 0.5). ONE IEEE
    division + one libm ln + one explicit HALF-UP round per piece
    (floor(x + 0.5), NOT Python's banker's round() — DuckDB's
    FLOOR spells it identically, so the tie behavior cannot drift
    across engines), computed driver-side over the bounded piece
    table (the v09/v28 bounded-instrument shape); the SQL oracle
    recomputes the same expression from the same integers."""
    import math

    total = sum(counts.values())
    return {
        p: math.floor(-math.log(n / total) * UNIGRAM_SCALE + 0.5)
        for p, n in counts.items()
    }


def unigram_lm_train(
    df: DataFrame,
    text_col: str,
    n_iter: int = 4,
    max_piece_len: int = 3,
    n_pieces: int = 48,
) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training (round
    11, VERDICT r10 item 2) — the OTHER mainstream tokenizer family
    beside BPE (t37/t39/t43): seed a candidate piece vocabulary
    from frequent substrings, then run ``n_iter`` hard-EM (Viterbi)
    iterations — E-step segments every word under the current piece
    costs and counts piece usage; M-step re-estimates costs and
    PRUNES unused multi-char candidates (single-char pieces are
    never pruned, the SentencePiece base-char rule, with an
    add-one count floor, so every in-scope word stays segmentable
    forever).

    Exactness (the v28 doctrine applied to EM): costs are scale-S
    fixed-point integers, so the Viterbi DP is exact BIGINT
    arithmetic (order-independent, engine-portable) with the
    longest-piece tie-break an integer equality; usage counts are
    exact integer sums of word counts; the M-step's
    round(-ln(n/total)*S) is one IEEE division + ln + round per
    piece on both engines. The whole (step, piece, n_used,
    cost_next) trajectory is therefore a deterministic integer
    sequence.

    Returns one row per piece USED in that iteration's
    segmentation: (step, piece, n_used, cost_next) — n_used =
    Σ word_count over words whose Viterbi segmentation uses the
    piece (counted once per occurrence), cost_next = the
    re-estimated cost the NEXT iteration runs at. Unused single
    chars stay in the cost table (add-one floor) without emitting
    a row; pruned multi-char candidates leave both. These are the
    rows the EM loop already collected, sorted on the driver by
    (step, piece): the returned frame re-runs no E-step.

    Scale (100 TB): ONE corpus scan builds the Heaps-bounded
    (word, count) vocabulary; seeding and every E-step run over
    that DEDUPED vocab weighted by count (the t43 trick — cost is
    per distinct word, not per occurrence); each iteration is one
    map-side-combinable hash agg whose output is <= n_pieces rows;
    driver state is the bounded piece table (the
    bounded-instrument doctrine). Nothing joins on doc ids,
    nothing collects unbounded rows."""
    rows, _ = _unigram_em(df, text_col, n_iter, max_piece_len, n_pieces)
    return df.sparkSession.createDataFrame(
        rows, "step int, piece string, n_used bigint, cost_next bigint"
    )


def _unigram_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """The tokenizer family's shared scope: lowercased
    ``^[a-z0-9]+$`` whitespace tokens, deduped to (word, count) —
    ONE Heaps-bounded hash agg."""
    return (
        df.select(
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
            ).alias("_w0")
        )
        .select(F.lower("_w0").alias("_w"))
        .filter(F.col("_w").rlike("^[a-z0-9]+$"))
        .groupBy("_w")
        .agg(F.count("*").alias("_c"))
    )


def _unigram_seed_counts(
    vocab: DataFrame, max_piece_len: int, n_pieces: int
) -> dict[str, int]:
    """Seed candidates: all substrings of length 1..max_piece_len
    of the deduped vocab, occurrence-weighted by word count; every
    present single char + the top (n_pieces − #chars) multi-char
    pieces by (count DESC, piece ASC). NB the per-length lambda
    must be built by a closure HELPER with a single parameter:
    F.transform dispatches on lambda arity, so a
    ``lambda i, ln=ln:`` spelling would receive the array INDEX as
    ln (a real bug the t47 oracle diff caught in round 11)."""

    def _sub_of(ln: int):
        return lambda i: F.substring(F.col("_w"), i, F.lit(ln))

    subs = F.flatten(
        F.array(
            *[
                F.when(
                    F.length("_w") >= ln,
                    F.transform(
                        F.sequence(
                            F.lit(1), F.length("_w") - F.lit(ln) + 1
                        ),
                        _sub_of(ln),
                    ),
                ).otherwise(F.array().cast("array<string>"))
                for ln in range(1, max_piece_len + 1)
            ]
        )
    )
    seed = (
        vocab.select(F.explode(subs).alias("_p"), "_c")
        .groupBy("_p")
        .agg(F.sum("_c").alias("_n"))
    )
    chars = seed.filter(F.length("_p") == 1)
    multi = (
        seed.filter(F.length("_p") > 1)
        .orderBy(F.col("_n").desc(), F.col("_p"))
        .limit(max(n_pieces - chars.count(), 0))
    )
    return {r["_p"]: r["_n"] for r in chars.unionAll(multi).collect()}


def _unigram_step_agg(
    vocab: DataFrame, costs: dict[str, int], max_piece_len: int
) -> DataFrame:
    """One E-step: Viterbi-segment every distinct word at the
    incoming costs, count piece usage weighted by word count — ONE
    map-side-combinable hash agg of <= |pieces| rows."""
    pieces = _viterbi_pieces(F.col("_w"), costs, max_piece_len)
    return (
        vocab.select(F.explode(pieces).alias("piece"), "_c")
        .groupBy("piece")
        .agg(F.sum("_c").alias("n_used"))
    )


def _unigram_next_counts(
    costs: dict[str, int], rows: dict[str, int]
) -> dict[str, int]:
    """M-step count adjustment: prune unused multi-char pieces;
    single chars get the add-one floor so the alphabet never
    vanishes (the SentencePiece base-char rule)."""
    return {
        p: max(rows.get(p, 0), 1) if len(p) == 1 else rows[p]
        for p in costs
        if len(p) == 1 or rows.get(p, 0) > 0
    }


def _unigram_em(
    df: DataFrame,
    text_col: str,
    n_iter: int,
    max_piece_len: int,
    n_pieces: int,
) -> tuple[list[tuple[int, str, int, int]], dict[str, int]]:
    """The unigram-LM hard-EM loop, run once on the driver: seed
    from the vocab (materialized ONCE — seeding and every E-step
    read it), then ``n_iter`` one-agg E-steps each followed by the
    driver-side M-step. Returns the per-step (step, piece, n_used,
    cost_next) rows, sorted by (step, piece), and the final cost
    table; ([], {}) when the corpus has no in-scope word."""
    vocab = _unigram_vocab(df, text_col).localCheckpoint()
    picked = _unigram_seed_counts(vocab, max_piece_len, n_pieces)
    if not picked:
        return [], {}
    costs = _unigram_costs(picked)
    rows = []
    for step in range(1, n_iter + 1):
        used = {
            r["piece"]: r["n_used"]
            for r in _unigram_step_agg(vocab, costs, max_piece_len).collect()
        }
        costs = _unigram_costs(_unigram_next_counts(costs, used))
        rows += [(step, p, n, costs.get(p)) for p, n in sorted(used.items())]
    return rows, costs


def unigram_train_costs(
    df: DataFrame,
    text_col: str,
    n_iter: int = 3,
    max_piece_len: int = 3,
    n_pieces: int = 40,
) -> dict[str, int]:
    """The DEPLOYABLE artifact of unigram-LM training: the final
    piece -> cost table after ``n_iter`` EM iterations (the
    logreg_fit_weights analog — train offline, hand the bounded
    table to the apply side / the streaming drift monitor)."""
    return _unigram_em(df, text_col, n_iter, max_piece_len, n_pieces)[1]


def unigram_usage_ledger(
    df: DataFrame,
    text_col: str,
    group_col: str,
    costs: dict[str, int],
    max_piece_len: int = 3,
) -> DataFrame:
    """Per-group piece-usage ledger under a FIXED trained unigram
    piece table — the APPLY-side audit (which pieces a source
    actually exercises, the tokenizer-drift signal): Viterbi
    segmentation per DISTINCT (group, word) weighted by count (the
    t43 trick), one |groups| x |pieces| hash agg. Returns
    (group, piece, n_used), exact BIGINTs — additive sufficient
    statistics, so the streaming twin's micro-batch partial IS this
    operator. Out-of-alphabet chars surface as their own
    off-table piece strings (deterministic, still additive)."""
    vocab = (
        df.select(
            F.col(group_col).alias("_g"),
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
            ).alias("_w0"),
        )
        .select("_g", F.lower("_w0").alias("_w"))
        .filter(F.col("_w").rlike("^[a-z0-9]+$"))
        .groupBy("_g", "_w")
        .agg(F.count("*").alias("_c"))
    )
    pieces = _viterbi_pieces(F.col("_w"), costs, max_piece_len)
    return (
        vocab.select("_g", F.explode(pieces).alias("piece"), "_c")
        .groupBy("_g", "piece")
        .agg(F.sum("_c").cast("bigint").alias("n_used"))
        .select(F.col("_g").alias(group_col), "piece", "n_used")
    )


def unigram_segment(
    df: DataFrame,
    text_col: str,
    costs: dict[str, int],
    max_piece_len: int = 3,
) -> DataFrame:
    """Apply a trained unigram-LM piece table: per in-scope word,
    the Viterbi piece segmentation (the deploy half; words with
    out-of-alphabet characters are left unsegmented as one OOV
    piece, mirroring t43's UNK policy). Returns (word, pieces)."""
    words = (
        df.select(
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
            ).alias("_w0")
        )
        .select(F.lower("_w0").alias("word"))
        .distinct()
    )
    seg = _viterbi_pieces(F.col("word"), costs, max_piece_len)
    return words.select(
        "word",
        F.when(
            F.col("word").rlike("^[a-z0-9]+$"), seg
        ).otherwise(F.array(F.lit("<unk>"))).alias("pieces"),
    )


def vocab_growth_stats(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Vocabulary-growth / Zipf-tail audit (round 10) — the
    empirical measurement behind the Heaps-law bound every
    vocabulary-collapsed operator in this corpus leans on (t37's
    merge loop, t43's encode, t34's PMI): per group, total in-scope
    tokens, distinct types, hapax legomena (types seen once — the
    Zipf tail, typically ~half the vocabulary), and the top type's
    frequency (the Zipf head). Type/token ratio and hapax fraction
    are one division away from the exact BIGINTs (the probe
    discipline). Scope = lowercased ``[a-z0-9]+``, the tokenizer
    family's pre-tokenization contract.

    Scale: ONE corpus scan into a (group, word) hash agg — the
    Heaps-bounded shape itself (map-side combine collapses each
    partition to its local vocab before the shuffle) — then a
    |groups|-row rollup. No join, no sort, no second scan."""
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("_w0"),
    ).select("grp", F.lower("_w0").alias("_w"))
    counts = (
        tok.filter(F.col("_w").rlike("^[a-z0-9]+$"))
        .groupBy("grp", "_w")
        .agg(F.count("*").alias("_c"))
    )
    return (
        counts.groupBy("grp")
        .agg(
            F.sum("_c").cast("bigint").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum((F.col("_c") == 1).cast("bigint")).alias("n_hapax"),
            F.max("_c").cast("bigint").alias("max_freq"),
        )
        .withColumnRenamed("grp", group_col)
    )


def vocab_coverage_curve(
    df: DataFrame, text_col: str, ks: tuple[int, ...] = (1, 5, 10, 20, 50)
) -> DataFrame:
    """Top-k vocabulary coverage curve (round 10) — the decision
    input for vocabulary-size selection: for each k, how many corpus
    tokens the k most frequent types cover (the integer numerator of
    the coverage fraction every tokenizer-sizing writeup plots).
    Ranking ties break to the lexicographically smaller word, so the
    curve is deterministic in both engines. Returns (k,
    covered_tokens, total_tokens), exact BIGINTs, one row per k.

    Scale: the corpus collapses to the (word, count) vocabulary in
    ONE map-side-combinable hash agg; the rank window then runs over
    the VOCAB — Heaps-bounded (~10M rows even at 100 TB), a single
    executor's work by design (if that ever mattered, ranking.py's
    range-bucketed two-pass ranker drops in). The curve itself is
    ONE conditional-sum agg over the ranked vocab."""
    tok = df.select(
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("_w0")
    ).select(F.lower("_w0").alias("_w"))
    counts = (
        tok.filter(F.col("_w").rlike("^[a-z0-9]+$"))
        .groupBy("_w")
        .agg(F.count("*").alias("_c"))
    )
    rank = F.row_number().over(
        Window.orderBy(F.col("_c").desc(), F.col("_w"))
    )
    ranked = counts.select("_c", rank.alias("_r"))
    agg = ranked.agg(
        F.sum("_c").cast("bigint").alias("total_tokens"),
        *[
            F.sum(F.when(F.col("_r") <= k, F.col("_c")).otherwise(0))
            .cast("bigint")
            .alias(f"_cov{k}")
            for k in ks
        ],
    )
    spark = df.sparkSession
    kdf = spark.createDataFrame([(k,) for k in ks], "k int")
    return (
        kdf.crossJoin(F.broadcast(agg))
        .select(
            "k",
            F.coalesce(
                *[
                    F.when(F.col("k") == k, F.col(f"_cov{k}"))
                    for k in ks
                ]
            ).alias("covered_tokens"),
            "total_tokens",
        )
    )


# ---------------------------------------------------------------
# WordPiece tokenizer training (round 12, t50) — the THIRD
# mainstream subword family beside BPE (t37: merge the most
# FREQUENT pair) and unigram-LM (t47: prune by likelihood):
# WordPiece (Schuster & Nakajima 2012; the BERT tokenizer) merges
# the pair maximizing the likelihood GAIN score
# count(l,r) / (count(l) * count(r)) — a frequent pair of already-
# frequent symbols loses to a rarer pair of rare symbols.
# ---------------------------------------------------------------

# Fixed-point score scale: score = pair_n / (cnt_l * cnt_r) <= 1
# (pair_n <= min(cnt_l, cnt_r)), so the quantized
# (pair_n * SCALE) div (cnt_l * cnt_r) fits BIGINT for ANY corpus.
# Both engines compute it in 128-bit integer arithmetic
# (DECIMAL(19,0) products in Spark, HUGEINT in DuckDB), so the
# quantization — PART OF THE DEFINED OPERATOR SEMANTICS, the t47
# fixed-point precedent — is bit-identical; ties break on
# (pair_n DESC, lhs, rhs), fully deterministic.
WORDPIECE_SCALE = 10**12


def _wp_strip(sym: str) -> str:
    """Drop the leading continuation marker of a symbol."""
    return sym[2:] if sym.startswith("##") else sym


def _wp_base_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(freq, symbol-string) vocabulary for the WordPiece loop —
    the _bpe_base_vocab shape with the BERT continuation marking:
    word-INITIAL chars are plain symbols, every later char is
    ##-prefixed (``cat`` → ``|c||##a||##t|``), so "a at word start"
    and "a mid-word" are DISTINCT symbols with distinct counts —
    the marking changes training dynamics, it is not rendering.
    '#' cannot occur in the ^[a-z0-9]+$ vocab, so markers can't
    collide with content."""
    tail = F.expr("substring(_w, 2)")
    return (
        df.select(
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
            ).alias("_w0")
        )
        .select(F.lower("_w0").alias("_w"))
        .filter(F.col("_w").rlike("^[a-z0-9]+$"))
        .groupBy("_w")
        .agg(F.count("*").alias("_f"))
        .select(
            "_f",
            F.concat(
                F.lit("|"),
                F.substring("_w", 1, 1),
                F.lit("|"),
                F.regexp_replace(tail, "(.)", "|##$1|"),
            ).alias("_s"),
        )
    )


def wordpiece_apply_merges(
    sym_string: Column, merges: list[tuple[str, str]]
) -> Column:
    """Apply a WordPiece merge schedule to a ``|s1||s2||…|`` symbol
    string: merging (l, r) yields symbol ``l + strip_##(r)`` — the
    product keeps l's position marking (plain at word start,
    ##-prefixed mid-word) and absorbs r's content."""
    out = sym_string
    for lhs, rhs in merges:
        out = F.replace(
            out,
            F.lit(f"|{lhs}||{rhs}|"),
            F.lit(f"|{lhs}{_wp_strip(rhs)}|"),
        )
    return out


def _wp_pair_top1(state: DataFrame) -> DataFrame:
    """Best pair of a WordPiece state frame by the quantized
    likelihood-gain score: ONE explode feeds BOTH the adjacent-pair
    aggregate and the per-symbol count aggregate; the score join is
    two broadcasts of the Heaps-bounded symbol-count table. Argmax
    = TakeOrderedAndProject on (score DESC, pair_n DESC, lhs, rhs)."""
    arr = F.filter(F.split("_s", "\\|"), lambda x: x != "")
    pairs_col = F.zip_with(
        F.slice(arr, 1, F.size(arr) - 1),
        F.slice(arr, 2, F.size(arr) - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    pairs = (
        state.select("_f", F.explode(pairs_col).alias("_p"))
        .groupBy(F.col("_p.l").alias("lhs"), F.col("_p.r").alias("rhs"))
        .agg(F.sum("_f").alias("pair_n"))
    )
    syms = (
        state.select("_f", F.explode(arr).alias("_a"))
        .groupBy("_a")
        .agg(F.sum("_f").alias("_c"))
    )
    d19 = "decimal(19,0)"
    score = F.expr(
        f"CAST(pair_n AS {d19}) * CAST({WORDPIECE_SCALE} AS {d19}) "
        f"div (CAST(_cl AS {d19}) * CAST(_cr AS {d19}))"
    ).cast("bigint")
    return (
        pairs.join(
            F.broadcast(syms.select(F.col("_a").alias("lhs"),
                                    F.col("_c").alias("_cl"))),
            "lhs",
        )
        .join(
            F.broadcast(syms.select(F.col("_a").alias("rhs"),
                                    F.col("_c").alias("_cr"))),
            "rhs",
        )
        .select("lhs", "rhs", "pair_n", score.alias("score_fp"))
        .orderBy(
            F.col("score_fp").desc(), F.col("pair_n").desc(), "lhs", "rhs"
        )
        .limit(1)
    )


def _wp_steps(df: DataFrame, text_col: str, n_merges: int) -> list[Row]:
    """The WordPiece loop's per-step (lhs, rhs, pair_n, score_fp)
    winners (see _merge_steps)."""
    state = _wp_base_vocab(df, text_col).localCheckpoint()
    return _merge_steps(
        state, _wp_pair_top1, wordpiece_apply_merges, n_merges
    )


def wordpiece_discover_merges(
    df: DataFrame, text_col: str, n_merges: int
) -> list[tuple[str, str]]:
    """Run the WordPiece training loop and return the merge
    schedule as driver literals (see _merge_steps)."""
    return [(r["lhs"], r["rhs"]) for r in _wp_steps(df, text_col, n_merges)]


def wordpiece_train_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 6,
) -> DataFrame:
    """Iterative WordPiece merge-loop training (round 12 — the BERT
    tokenizer's trainer): n_merges iterations of count adjacent
    pairs AND per-symbol totals → pick the pair maximizing the
    quantized likelihood-gain score (pair_n * 10^12) div
    (cnt_l * cnt_r) → merge every left-to-right occurrence.
    Returns one row per step: (step, lhs, rhs, merged, pair_n,
    score_fp) — the schedule, all integer-exact.

    vs BPE (t37): same |…|-wrapped replace trick, same Heaps-
    bounded vocab collapse, same linear lineage with merges re-
    entering as literals — but the alphabet carries the real ##
    continuation marking (word-initial 'a' and mid-word '##a' are
    different symbols with different counts), the winner divides by
    BOTH symbol frequencies, and the merged product strips r's ##
    (keeping l's position class).

    Exactness: the score is 128-bit integer arithmetic on both
    engines (DECIMAL(19,0) products + div here, HUGEINT + // in
    the oracle) — floor of the same rational, bit-identical; the
    quantization is part of the operator's declared semantics (the
    t47 fixed-point doctrine) and ties break on (pair_n DESC, lhs,
    rhs) either way.

    Scale: identical topology to t37 — the corpus collapses once to
    the (word, freq) vocab; each iteration is one pair agg + one
    symbol agg over the vocab (map-side combinable), two broadcast
    joins of the tiny symbol-count table, and a 1-ROW collect; the
    collected winners ARE the returned rows, so collecting the
    result runs no aggregation again."""
    rows = [
        (
            step,
            r["lhs"],
            r["rhs"],
            r["lhs"] + _wp_strip(r["rhs"]),
            r["pair_n"],
            r["score_fp"],
        )
        for step, r in enumerate(_wp_steps(df, text_col, n_merges), start=1)
    ]
    return df.sparkSession.createDataFrame(
        rows,
        "step int, lhs string, rhs string, merged string, "
        "pair_n bigint, score_fp bigint",
    )


def _wp_jump(word: Column, pieces: list[tuple[str, bool, int]]) -> "callable":
    """Factory: jump(pos) = greedy longest-match piece CONTENT
    length at 1-based position ``pos`` of ``word`` under the
    trained WordPiece vocab. ``pieces`` holds the merge products as
    (content, is_initial, content_len); single chars always match
    (the base alphabet covers both position classes), so the jump
    is >= 1 and the walk always terminates."""

    def jump(pos: Column) -> Column:
        arms = [F.lit(1)]
        for content, is_initial, ln in pieces:
            cls = (pos == 1) if is_initial else (pos > 1)
            arms.append(
                F.when(
                    cls & (F.substring(word, pos, ln) == content),
                    F.lit(ln),
                ).otherwise(1)
            )
        return F.greatest(*arms) if len(arms) > 1 else arms[0]

    return jump


def wordpiece_piece_count(
    word: Column, merges: list[tuple[str, str]]
) -> Column:
    """Number of WordPiece tokens the greedy longest-match-first
    algorithm (the HF WordpieceTokenizer inference rule: at each
    position take the LONGEST vocab piece of the right position
    class) emits for ``word`` — as ONE column expression (no UDF,
    the t47 walk machinery): an F.aggregate struct accumulator
    advances pos by the jump until past the end, counting steps.
    Position classes are real: a merge product whose lhs is
    ##-marked only matches mid-word, an unmarked one only at the
    word start."""
    pieces = []
    for lhs, rhs in merges:
        content = _wp_strip(lhs) + _wp_strip(rhs)
        pieces.append((content, not lhs.startswith("##"), len(content)))
    jump = _wp_jump(word, pieces)
    n = F.length(word)
    walk = F.aggregate(
        F.sequence(F.lit(1), n),
        F.struct(
            F.lit(1).cast("int").alias("pos"),
            F.lit(0).cast("int").alias("np"),
        ),
        lambda acc, _: F.when(acc["pos"] > n, acc).otherwise(
            F.struct(
                (acc["pos"] + jump(acc["pos"])).cast("int").alias("pos"),
                (acc["np"] + 1).cast("int").alias("np"),
            )
        ),
    )
    return walk["np"]


def wordpiece_segment_stats(
    df: DataFrame,
    text_col: str,
    group_col: str,
    n_merges: int = 6,
) -> DataFrame:
    """WordPiece segmentation audit (round 12) — the APPLY half of
    t50, completing the train→apply story the other two families
    already have (BPE: t37→t39; unigram-LM: t47→usage ledger):
    train the merge schedule, then per ``group_col`` count the
    corpus token economics under greedy longest-match-first
    inference. Returns (group, n_words, n_chars, n_pieces,
    n_oov_words) — all exact BIGINTs; fertility = n_pieces/n_words
    is one division away for consumers holding the integers.
    Out-of-scope words (not ^[a-z0-9]+$ after lowering) are counted
    separately, not segmented — t43's UNK policy.

    IMPORTANT semantic note: training applies merges as REPLACES
    (symbol-pair contraction) while inference is greedy
    longest-match — the two can disagree on words the training
    corpus never saw whole (the known BPE-vs-WordPiece deploy
    asymmetry); this operator measures the INFERENCE economics,
    which is what serving actually pays.

    Scale: after the discovery jobs (vocab-sized, 1-row collects),
    ONE corpus scan with NO join — the trained pieces compile INTO
    the scan as literals (the t39 trick), the greedy walk is a
    bounded column-expression aggregate per word, and the only
    shuffle is the |groups|-row final agg."""
    merges = wordpiece_discover_merges(df, text_col, n_merges)
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("_w0"),
    ).select("grp", F.lower("_w0").alias("_w"))
    in_scope = F.col("_w").rlike("^[a-z0-9]+$")
    npieces = wordpiece_piece_count(F.col("_w"), merges)
    return (
        tok.select(
            "grp",
            in_scope.cast("bigint").alias("_in"),
            F.when(in_scope, F.length("_w")).otherwise(0).alias("_ch"),
            F.when(in_scope, npieces).otherwise(0).alias("_np"),
        )
        .groupBy("grp")
        .agg(
            F.sum("_in").alias("n_words"),
            F.sum("_ch").cast("bigint").alias("n_chars"),
            F.sum("_np").cast("bigint").alias("n_pieces"),
            (F.count("*") - F.sum("_in")).alias("n_oov_words"),
        )
        .withColumnRenamed("grp", group_col)
    )


def tokenizer_fertility_compare(
    df: DataFrame,
    text_col: str,
    group_col: str,
    n_merges: int = 6,
) -> DataFrame:
    """Tokenizer bake-off ledger (round 12, v33) — the artifact
    that decides WHICH subword family ships: train BPE (t37) and
    WordPiece (t50) on the SAME corpus with the SAME merge budget,
    segment every in-scope token under each family's own inference
    rule (BPE: the trained replaces; WordPiece: greedy longest-
    match-first with position classes), and compare per-group
    fertility. Returns (group, n_words, n_chars, bpe_subwords,
    wp_pieces, delta, winner) — the counts exact BIGINTs, the
    winner a pure function of two of them, so the whole comparison
    is integer-decided (no float enters the verdict).

    Scale: two discovery loops (each K one-agg jobs on the Heaps-
    bounded vocab), then each family's audit is ONE corpus scan
    with its schedule compiled in as literals; the final join is
    |groups|-sized."""
    bpe = bpe_segment_stats(df, text_col, group_col, n_merges).select(
        F.col(group_col).alias("_g"),
        "n_words",
        "n_chars",
        F.col("n_subwords").alias("bpe_subwords"),
    )
    wp = wordpiece_segment_stats(
        df, text_col, group_col, n_merges
    ).select(
        F.col(group_col).alias("_g"),
        F.col("n_pieces").alias("wp_pieces"),
    )
    j = bpe.join(wp, "_g")
    winner = (
        F.when(F.col("wp_pieces") < F.col("bpe_subwords"), "wordpiece")
        .when(F.col("wp_pieces") > F.col("bpe_subwords"), "bpe")
        .otherwise("tie")
    )
    return j.select(
        F.col("_g").alias(group_col),
        "n_words",
        "n_chars",
        "bpe_subwords",
        "wp_pieces",
        (F.col("bpe_subwords") - F.col("wp_pieces")).cast("bigint").alias(
            "delta"
        ),
        winner.alias("winner"),
    )


# t52 TextRank constants — ONE definition imported by the Spark
# operator, the oracle builder, and the tests (the D50/T46 shared-
# params doctrine): fixed-point scale, damping as an integer
# rational, iteration count, and the emitted top-k.
T52_PARAMS: dict[str, int] = {
    "scale": 1_000_000_000,  # 1e9: rank*weight stays well inside int64
    "damp_num": 85,  # damping d = 85/100
    "damp_den": 100,
    "iters": 5,
    "topk": 5,
}


def _textrank_tokens(text_col: str):
    """Lowercased [a-z0-9]+ tokens — the t45 keyword alphabet; the
    co-occurrence window runs over the FILTERED sequence on both
    engines (dropped punctuation does not create false adjacency
    asymmetries between the engines)."""
    return F.filter(
        F.transform(
            F.split(F.col(text_col), " "), lambda x: F.lower(x)
        ),
        lambda x: x.rlike("^[a-z0-9]+$"),
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) per
    group: weighted PageRank over the word co-occurrence graph
    (adjacent filtered tokens, undirected via both directed
    edges, edge weight = corpus co-occurrence count), then the
    top-k words per group by final rank. The graph-centrality
    keyword scorer a curation pipeline runs beside frequency-based
    t07/t34 — centrality surfaces connective vocabulary that raw
    counts miss.

    Every iteration is FIXED-POINT BIGINT arithmetic (the t47
    doctrine): r0 = S div n; r' = (15·S div n) div 100 +
    (85·inflow) div 100 with inflow = Σ_u (r_u·w_uv div str_u) —
    integer floors make the whole trajectory order-independent and
    bit-exact on any partitioning, so the oracle (unrolled CTEs,
    one per iteration) replays it hash-exactly; no convergence
    tolerance, no float drift. The co-occurrence graph has no
    dangling nodes by construction (vocab is built FROM edges).

    Output: (group, rk, word, rank_fp) — top-k by (rank DESC,
    word), exact BIGINT ranks at scale 1e9.

    Scale: ONE corpus scan into the (group, a, b) edge-count agg
    (the shuffle key is the Heaps-bounded word-pair set, not docs);
    K=5 joins of the (group, word) rank table onto edges — both
    sides bounded by vocabulary size, co-partitioned on the same
    key across iterations; the final top-k window partitions by
    group over the vocab-sized rank table. Nothing doc-keyed after
    the first agg, nothing quadratic."""
    S = T52_PARAMS["scale"]
    dn, dd = T52_PARAMS["damp_num"], T52_PARAMS["damp_den"]

    toks = df.select(
        F.col(group_col).alias("_g"),
        _textrank_tokens(text_col).alias("_ws"),
    ).filter(F.size("_ws") >= 2)
    pairs = toks.select(
        "_g",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_ws) - 1), "
                "i -> struct(_ws[i-1] AS a, _ws[i] AS b))"
            )
        ).alias("_p"),
    ).select("_g", "_p.a", "_p.b")
    # symmetrize AFTER the first aggregation: the union runs over
    # the Heaps-bounded directed-pair count table, not the raw
    # corpus-sized pair stream — one corpus scan, not two
    dirw = pairs.groupBy("_g", "a", "b").agg(
        F.count("*").cast("bigint").alias("w")
    )
    edges = (
        dirw.union(
            dirw.select(
                "_g", F.col("b").alias("a"), F.col("a").alias("b"), "w"
            )
        )
        .groupBy("_g", "a", "b")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    strength = edges.groupBy("_g", "a").agg(
        F.sum("w").alias("str")
    )
    # materialize the vocab-sized graph ONCE (the v16-pagerank
    # localCheckpoint discipline): without the cut, each unrolled
    # iteration re-derives edges/strength from the corpus — 44
    # parquet scans at K=5; with it, ONE corpus scan builds the
    # Heaps-bounded tables and every iteration runs off them
    ew = edges.join(strength, ["_g", "a"]).localCheckpoint()
    nodes_n = (
        strength.select("_g", F.col("a").alias("node"))
        .join(
            strength.groupBy("_g").agg(
                F.count("*").cast("bigint").alias("n")
            ),
            "_g",
        )
        .localCheckpoint()
    )
    ranks = nodes_n.select(
        "_g", "node", F.expr(f"{S} div n").alias("r")
    )
    for _ in range(T52_PARAMS["iters"]):
        # rename the rank table's columns before re-joining it onto
        # the edge lineage it descends from (self-join hygiene)
        rr = ranks.select(
            F.col("_g").alias("_rg"),
            F.col("node").alias("_rn"),
            F.col("r").alias("_rr"),
        )
        inflow = (
            ew.join(
                rr,
                (F.col("_g") == F.col("_rg"))
                & (F.col("a") == F.col("_rn")),
            )
            .select(
                "_g",
                F.col("b").alias("node"),
                F.expr("(_rr * w) div str").alias("c"),
            )
            .groupBy("_g", "node")
            .agg(F.sum("c").alias("inflow"))
            .select(
                F.col("_g").alias("_ig"),
                F.col("node").alias("_in"),
                "inflow",
            )
        )
        ranks = (
            nodes_n
            .join(
                inflow,
                (F.col("_g") == F.col("_ig"))
                & (F.col("node") == F.col("_in")),
                "left",
            )
            .select(
                "_g",
                "node",
                F.expr(
                    f"(({dd - dn} * ({S} div n)) div {dd}) + "
                    f"(({dn} * coalesce(inflow, 0)) div {dd})"
                ).alias("r"),
            )
        )
    from pyspark.sql.window import Window

    win = Window.partitionBy("_g").orderBy(
        F.col("r").desc(), F.col("node")
    )
    return (
        ranks.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= T52_PARAMS["topk"])
        .select(
            F.col("_g").alias(group_col),
            F.col("rk").cast("bigint").alias("rk"),
            F.col("node").alias("word"),
            F.col("r").alias("rank_fp"),
        )
    )
