"""Text analysis operators: token counting, language id, quality
scoring, fingerprinting. Pure JVM column expressions — they run inside
whole-stage codegen, and every expression has an exact DuckDB
equivalent so the driver's oracle can verify values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# small, fixed stopword sets per language — enough signal for an n-gram
# heuristic language id over web text; deterministic by construction
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was",
           "on", "are", "with", "as", "this", "be", "at", "have", "not", "by"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "eine",
           "auf", "den", "von", "zu", "im", "sich", "des", "dem", "auch"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "que", "qui", "une",
           "pour", "pas", "sur", "par", "avec", "au", "ce", "il"],
    "es": ["el", "la", "los", "las", "y", "que", "de", "en", "un", "una",
           "por", "con", "para", "es", "del", "se", "no", "al"],
}


def tokens(text: Column) -> Column:
    """Lowercased alpha tokens. Mirror: DuckDB
    ``string_split_regex(lower(x), '[^a-z]+')``."""
    return F.split(F.lower(text), "[^a-z]+")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for blank)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    ).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: word pieces + digits + punctuation
    as separate tokens (a BPE-shaped regex, not a trained BPE)."""
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]{1,8}|[0-9]|[^a-z0-9\s]"), F.lit(0)
    )
    return F.size(pieces).cast("long")


def stopword_hits(text: Column, lang: str) -> Column:
    """Non-distinct count of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t))).cast("long")


def lang_id(text: Column) -> Column:
    """Heuristic language id: argmax stopword-hit count across known
    languages; ties broken toward the lexicographically GREATEST code
    (array_max compares (hits, code) by value, ignoring construction
    order — the gate oracle's CASE precedence fr > es > en > de mirrors
    exactly this); zero hits -> 'und'."""
    scored = F.array(
        *[
            F.struct(
                stopword_hits(text, code).alias("hits"),
                F.lit(code).alias("code"),
            )
            for code in sorted(STOPWORDS, reverse=True)
        ]
    )
    best = F.array_max(scored)
    return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^.!?,;:]", "")).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features + a composite [0,1] score.

    Heuristics in the spirit of web-corpus quality filters (C4-style):
    reasonable length, low punctuation density, healthy stopword ratio,
    sane mean word length.
    """
    t = F.col(text_col)
    n_tok = token_count(t)
    n_chars = F.length(t).cast("long")
    sw = stopword_hits(t, "en")
    punct = punct_count(t)
    mean_wl = F.when(n_tok > 0, (n_chars.cast("double") / n_tok.cast("double"))).otherwise(F.lit(0.0))
    sw_ratio = F.when(n_tok > 0, sw.cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars.cast("double")).otherwise(F.lit(0.0))
    score = (
        F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_wl >= 3.0) & (mean_wl <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(sw_ratio >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars_m"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        score.alias("quality_score"),
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals: duplicated-line count/fraction
    and duplicated n-gram (word-trigram) fraction per document — the
    classic boilerplate/spam indicators a web-corpus filter thresholds
    on. Pure array expressions, narrow map-side pass.

    A "line" is a trimmed, non-empty '\\n'-segment; a segment (line or
    trigram) is duplicated when it occurs more than once WITHIN the
    document. Fractions are 0 for documents with no segments.
    """
    t = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    words = F.filter(F.split(F.lower(t), r"[^a-z]+"), lambda w: w != "")
    # word trigrams, same construction as the dedup shingles
    tri = F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i),
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def dup_stats(arr, prefix: str):
        n = F.size(arr).cast("long")
        dups = (F.size(arr) - F.size(F.array_distinct(arr))).cast("long")
        frac = F.when(n > 0, dups.cast("double") / n.cast("double")).otherwise(
            F.lit(0.0)
        )
        return [
            n.alias(f"n_{prefix}"),
            dups.alias(f"dup_{prefix}"),
            F.round(frac, 6).alias(f"dup_{prefix}_frac"),
        ]

    return df.select("*", *dup_stats(lines, "lines"), *dup_stats(tri, "trigrams"))


# Gopher-rule-style default cutoffs (Rae et al. 2021, table A1 family):
# documents whose duplicate-line fraction or duplicate-trigram fraction
# exceeds these are boilerplate/spam-like. Deliberately conservative;
# tune per corpus.
REPETITION_MAX_DUP_LINE_FRAC = 0.30
REPETITION_MAX_DUP_TRIGRAM_FRAC = 0.50


def repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    max_dup_line_frac: float = REPETITION_MAX_DUP_LINE_FRAC,
    max_dup_trigram_frac: float = REPETITION_MAX_DUP_TRIGRAM_FRAC,
    keep_signals: bool = False,
) -> DataFrame:
    """Drop repetition-heavy documents (the standard Gopher-style
    boilerplate cut): keep rows whose duplicated-line AND
    duplicated-trigram fractions are at or below the thresholds.
    Narrow map-side filter — composes with the rest of the corpus
    pipeline without a shuffle. ``keep_signals`` retains the computed
    fraction columns for auditing; by default the output schema equals
    the input schema."""
    scored = repetition_features(df, text_col)
    kept = scored.where(
        (F.col("dup_lines_frac") <= max_dup_line_frac)
        & (F.col("dup_trigrams_frac") <= max_dup_trigram_frac)
    )
    return kept if keep_signals else kept.select(*df.columns)


def corpus_filter(
    df: DataFrame,
    text_col: str = "text",
    allowed_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.75,
    max_dup_line_frac: float = REPETITION_MAX_DUP_LINE_FRAC,
    max_dup_trigram_frac: float = REPETITION_MAX_DUP_TRIGRAM_FRAC,
    keep_signals: bool = False,
) -> DataFrame:
    """The composed C4/Gopher-style corpus quality gate: one narrow
    pass that scores language, quality, and repetition together and
    emits a per-document keep/reject decision WITH the first failing
    rule — the auditable form a production pipeline needs (reject
    REASONS drive threshold tuning; a bare filter hides them).

    Rule precedence (first failure wins, mirroring the usual
    cheap-to-expensive filter ordering):

    1. ``lang``       — :func:`lang_id` guess not in ``allowed_langs``;
    2. ``quality``    — composite :func:`quality_features` score below
       ``min_quality``;
    3. ``repetition`` — duplicated-line or duplicated-trigram fraction
       above the Gopher-style cutoffs (same rounded fractions as
       :func:`repetition_filter`).

    Kept rows carry ``reject_reason = 'pass'`` and ``keep = true``.
    By default the output is the input schema plus ``keep`` /
    ``reject_reason``; ``keep_signals`` retains every intermediate
    feature column for auditing.

    Scale posture: everything is whole-stage-codegen Column algebra
    over one scan — ZERO shuffles, composes with hash_split /
    balanced_sample downstream without a repartition.
    """
    scored = repetition_features(quality_features(df, text_col), text_col)
    langs = F.array(*[F.lit(c) for c in allowed_langs])
    reason = (
        F.when(~F.array_contains(langs, lang_id(F.col(text_col))), F.lit("lang"))
        .when(F.col("quality_score") < F.lit(float(min_quality)), F.lit("quality"))
        .when(
            (F.col("dup_lines_frac") > F.lit(float(max_dup_line_frac)))
            | (F.col("dup_trigrams_frac") > F.lit(float(max_dup_trigram_frac))),
            F.lit("repetition"),
        )
        .otherwise(F.lit("pass"))
    )
    out = scored.withColumn("reject_reason", reason).withColumn(
        "keep", F.col("reject_reason") == "pass"
    )
    if keep_signals:
        return out
    return out.select(*df.columns, "keep", "reject_reason")


def corpus_token_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-shape analytics for pipeline tuning: documents bucketed by
    log2 token-count bands (plus mean quality signals per band). One
    map-side pass + a groupBy on ~30 keys — scales trivially."""
    t = F.col(text_col)
    n_tok = token_count(t)
    # log2 band via bit length (length of the binary rendering - 1):
    # exact integer arithmetic — floor(log2(x)) is float-fragile at
    # exact powers of two across engines
    band = F.when(n_tok == 0, F.lit(-1)).otherwise(
        (F.length(F.conv(n_tok.cast("string"), 10, 2)) - 1).cast("long")
    )
    return (
        df.select(
            band.alias("tok_band"),
            n_tok.alias("n_tok"),
            F.length(t).cast("long").alias("n_chars"),
        )
        .groupBy("tok_band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test routing: split = the bucket of
    md5(seed || id) mod 10000 under the cumulative weight boundaries.
    Stable across runs, machines, and engines (the gate oracle
    recomputes the identical assignment in DuckDB); adding documents
    never reassigns existing ones — the properties that matter for
    dataset reproducibility, unlike randomSplit. Pure narrow codegen."""
    from .dedup import portable_hash32

    names = list(weights)
    total = sum(weights.values())
    bucket = F.pmod(
        portable_hash32(F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))),
        F.lit(10000),
    )
    acc = 0.0
    expr = F.lit(names[-1])
    bounds = []
    for name in names[:-1]:
        acc += weights[name] / total
        bounds.append((name, int(round(acc * 10000))))
    for name, bound in reversed(bounds):
        expr = F.when(bucket < bound, F.lit(name)).otherwise(expr)
    return df.select("*", bucket.alias("split_bucket"), expr.alias("split"))


def hash_sample(
    df: DataFrame, rate: float, id_col: str = "doc_id", seed: str = "sample-v1"
) -> DataFrame:
    """Deterministic corpus sampling: keep rows whose seeded hash
    bucket falls below rate*10000. Same engine-portable stability
    story as hash_split; unlike df.sample, re-running or re-reading
    never changes membership."""
    from .dedup import portable_hash32

    bucket = F.pmod(
        portable_hash32(F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))),
        F.lit(10000),
    )
    return df.where(bucket < int(round(rate * 10000)))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (exact dedup key robust to formatting)."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(norm)


def rolling_fingerprints(
    text: Column, window: int = 16, keep_mod: int = 8, hash_fn: str = "xxhash64"
) -> Column:
    """Winnowing-style selective shingle fingerprints: hash every
    ``window``-char shingle, keep those ≡0 mod ``keep_mod`` — a compact
    sketch for containment detection. Pure array expressions.
    ``hash_fn='md5'`` uses the engine-portable 32-bit hash so the gate
    oracle can recompute the sketch (production default xxhash64)."""
    n = F.length(text)
    if hash_fn == "md5":
        from .dedup import portable_hash32

        hasher = lambda s: portable_hash32(s)  # noqa: E731
    else:
        hasher = F.xxhash64
    hashes = F.transform(
        F.sequence(F.lit(1), n - window + 1),
        lambda i: hasher(text.substr(i, F.lit(window))),
    )
    selected = F.filter(hashes, lambda h: F.pmod(h, F.lit(keep_mod)) == 0)
    # sequence(1, x) counts down when x < 1 — guard short texts
    return F.when(n >= window, selected).otherwise(F.array().cast("array<bigint>"))


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    min_token_len: int = 3,
) -> DataFrame:
    """Per-document top-``top_k`` terms by smoothed tf-idf — distributed
    keyword extraction over the whole corpus (the signal behind topic
    tagging / domain balancing in a training-data pipeline).

    tf = the term's count within the document (lowercased alpha tokens
    of length >= ``min_token_len``); idf = ln((N + 1) / (df_t + 1)) + 1
    (the sklearn smoothed variant, never negative); score = tf x idf
    rounded to 6 dp, ties broken by term ascending so the ranking is
    total-ordered and engine-reproducible (DuckDB oracle recomputes it
    exactly).

    Scale shape: one narrow tokenize + explode, then two hash
    aggregations — (doc, term) term-frequency and (term)
    document-frequency — both map-side combinable, a (term)-keyed
    equi-join of the two (the heaviest terms are exactly the
    high-df/low-idf ones, and their per-term reduce is a count, so the
    zipfian skew collapses map-side instead of hot-keying the join),
    one single-row broadcast for the corpus size N, and a per-document
    row_number window that reuses the tf aggregation's (doc, term)
    clustering. No pass ever materializes more than one row per
    (document, distinct term).
    """
    terms = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"),
        lambda t: F.length(t) >= min_token_len,
    )
    tf = (
        df.select(F.col(id_col), F.explode(terms).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = F.broadcast(df.agg(F.count(F.lit(1)).alias("_n")))
    scored = (
        tf.join(dft, "term")
        .crossJoin(n_docs)
        .select(
            id_col,
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("_n") + F.lit(1.0)) / (F.col("_df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= top_k)
    )


# PII scrubbing: conservative, deterministic patterns shared verbatim
# with the DuckDB oracle. Java regex and RE2 agree on this subset (no
# backreferences, no lookaround). Patterns are deliberately
# high-precision / moderate-recall — a training-data scrub wants no
# false redactions of ordinary text; corpus-specific recall tuning
# layers more patterns on top.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (name, regex, replacement token) — scrub order matters: ipv4
    # BEFORE phone, because a dotted quad with multi-digit octets
    # (192.168.001.007) is also phone-shaped and the more specific
    # pattern must win the redaction
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{2,4}\)?[-. ][0-9]{3,4}[-. ][0-9]{3,4}", "<PHONE>"),
]


def pii_scrub(
    df: DataFrame, text_col: str = "text", count_hits: bool = True
) -> DataFrame:
    """Redact high-precision PII patterns (emails, phone-shaped
    numbers, IPv4 literals) from ``text_col`` — the standard scrub a
    web corpus gets before training. Pure chained ``regexp_replace``
    (whole-stage codegen, narrow, zero shuffle); with ``count_hits``
    each pattern also gets a per-document match count column
    (``pii_<name>_hits``) so a filter stage can drop PII-dense
    documents instead of just masking them.

    Patterns are applied in declaration order (email, ipv4, phone —
    dotted quads redact as <IP>, not <PHONE>); replacement tokens
    cannot re-trigger later patterns (no '@', digits-in-shape, or dots
    inside the tokens). Hit counts are INDEPENDENT per-pattern match
    counts over the original text — an IPv4 literal that is also
    phone-shaped counts once under each signal."""
    scrubbed = F.col(text_col)
    hits = []
    for name, pat, token in PII_PATTERNS:
        if count_hits:
            hits.append(
                F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
                .cast("long")
                .alias(f"pii_{name}_hits")
            )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    # input column ORDER is preserved (text replaced in place) so
    # positional consumers (parquet appends, unionByName=False) stay
    # aligned; hit columns append at the end
    out_cols = [
        scrubbed.alias(text_col) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return df.select(*out_cols, *hits)


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct lowercased word n-grams (space-joined). Mirror of the
    repetition trigram construction, generalized to n. Documents with
    fewer than ``n`` words yield an empty array."""
    words = F.filter(F.split(F.lower(text), r"[^a-z]+"), lambda w: w != "")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Benchmark decontamination: which corpus documents share word
    n-grams with an evaluation set (the standard leakage check a
    training corpus runs before a model ships). Returns one row per
    contaminated (document, benchmark item) pair with the count of
    DISTINCT shared n-grams.

    Scale shape: both sides reduce to exploded distinct n-grams
    (narrow), the benchmark side is BROADCAST (eval sets are tiny
    next to a 100-TB corpus — a few MB of n-grams), the join is a
    broadcast hash join keyed on the gram, and the (doc, bench) count
    aggregates map-side. The corpus is scanned once; nothing all-pairs
    ever materializes — a document with zero shared grams never leaves
    its scan partition.
    """
    d_grams = df.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    )
    b_grams = benchmark.select(
        F.col(bench_id_col), F.explode(word_ngrams(F.col(bench_text_col), n)).alias("_g")
    )
    return (
        d_grams.join(F.broadcast(b_grams), "_g")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def source_mix(
    df: DataFrame,
    cap_share: float = 0.10,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Corpus-mix balancing: per-source composition stats plus the
    deterministic downsampling rate that caps any one source at
    ``cap_share`` of the corpus (the domain-weighting step of corpus
    construction — overrepresented crawls get a rate < 1, everything
    else passes through).

    One groupBy(source) aggregation (map-side combinable; source
    cardinality is tiny next to rows) joined to a 1-row broadcast of
    the corpus totals. ``sampling_rate`` composes with hash_sample for
    an exactly reproducible balanced corpus: keep a doc iff
    pmod(xxhash64(id), 1e6) < rate * 1e6.
    """
    per_src = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("total_tokens"),
        F.sum(F.length(text_col).cast("long")).alias("total_chars"),
    )
    totals = F.broadcast(df.agg(F.count(F.lit(1)).alias("_n_total")))
    return per_src.crossJoin(totals).select(
        source_col,
        "n_docs",
        "total_tokens",
        "total_chars",
        F.round(F.col("n_docs") / F.col("_n_total"), 6).alias("share"),
        F.round(
            F.least(
                F.lit(1.0),
                (F.lit(cap_share) * F.col("_n_total")) / F.col("n_docs"),
            ),
            6,
        ).alias("sampling_rate"),
    )


def token_quantiles(
    df: DataFrame,
    ps: tuple[int, ...] = (25, 50, 75, 90),
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """EXACT per-group token-count quantiles via counting sort.

    Sort-based exact quantiles need every group's values sorted in one
    place — with a handful of languages over a 100-TB corpus that is a
    few giant single-reducer sorts. But the metric (whitespace token
    count) has bounded cardinality, so exact quantiles reduce to a
    histogram: ``groupBy(group, n_tok).count()`` (map-side combinable
    — the shuffle carries one row per DISTINCT (group, value), not per
    document), a cumulative sum over each group's histogram (window
    over histogram-sized data), and for each requested percentile the
    smallest value whose cumulative count reaches ``ceil(p/100 * n)``
    — the classic lower/disc quantile definition, integer-exact in any
    engine (no interpolation, no float quantile semantics to mismatch).

    Emits ``(group_col, p, q_value, n_docs)`` sorted semantics-free —
    one row per group x percentile.
    """
    if not ps or any(p < 1 or p > 100 for p in ps):
        raise ValueError(f"ps must be percentages in 1..100, got {ps}")
    g = F.col(group_col)
    hist = (
        df.select(g.alias("_g"), token_count(F.col(text_col)).alias("_v"))
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wcum = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("_g")
    cum = hist.select(
        "_g",
        "_v",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(wtot).alias("_n"),
    )
    p_arr = F.array(*[F.lit(int(p)) for p in sorted(set(ps))])
    exploded = cum.select(
        "_g", "_v", "_cum", "_n", F.explode(p_arr).alias("p")
    )
    need = F.ceil(F.col("p") * F.col("_n") / 100.0).cast("long")
    return (
        exploded.where(F.col("_cum") >= need)
        .groupBy(F.col("_g").alias(group_col), "p")
        .agg(
            F.min("_v").alias("q_value"),
            F.max("_n").alias("n_docs"),
        )
    )


def unigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-likelihood under an add-one-
    smoothed unigram language model trained on the corpus itself —
    the distributed form of perplexity filtering (CCNet / Gopher
    style: docs whose token distribution diverges from the corpus
    score high and get cut).  perplexity = exp(nll).

    Model: p(t) = (c_t + 1) / (N + V) with c_t the corpus count of
    token t, N total tokens, V vocabulary size; tokens are lowercased
    alpha runs.  nll(d) = -sum_t tf_{d,t} * ln p(t) / n_d.  Documents
    with zero tokens produce no row (no distribution to score).

    Scale shape: one tokenize + explode, a (doc, term) tf aggregation
    and a (term) corpus-count aggregation — both map-side combinable,
    so zipfian-hot terms collapse in the partial agg — a (term)-keyed
    equi-join carrying at most one row per (doc, distinct term), a
    single-row broadcast of (N, V), and a final (doc) rollup.  No UDF,
    no pass wider than one row per (doc, distinct term).
    """
    terms = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"),
        lambda t: F.length(t) >= 1,
    )
    tf = (
        df.select(F.col(id_col), F.explode(terms).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ct = tf.groupBy("term").agg(F.sum("tf").alias("_ct"))
    totals = F.broadcast(
        ct.agg(F.sum("_ct").alias("_n"), F.count(F.lit(1)).alias("_v"))
    )
    return (
        tf.join(ct, "term")
        .crossJoin(totals)
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                -F.sum(
                    F.col("tf")
                    * (F.log(F.col("_ct") + F.lit(1.0)) - F.log(F.col("_n") + F.col("_v")))
                )
                / F.sum("tf"),
                6,
            ).alias("nll"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Corpus-level collocation mining: the ``top_k`` adjacent word
    pairs by pointwise mutual information — the phrase-vocabulary /
    multi-word-expression signal a tokenizer- or topic-pipeline
    derives from a crawl before training.

    PMI(x, y) = ln( p(x,y) / (p(x) p(y)) ) with p(x,y) = c_xy / B over
    adjacent-bigram occurrences and p(x) = c_x / U over unigram
    occurrences (lowercased alpha runs).  Computed as
    ``ln c_xy + 2 ln U - ln B - ln c_x - ln c_y`` — the exact operand
    order the DuckDB oracle mirrors — rounded to 6 dp.  Pairs below
    ``min_count`` occurrences are dropped (rare-pair PMI is noise),
    and the ranking is total-ordered by (pmi desc, w1, w2).

    Scale shape: one narrow tokenize per document, bigram and unigram
    explodes feeding two map-side-combinable hash aggregations
    (zipfian-hot words collapse in the partial agg), two word-keyed
    equi-joins to annotate the bigram counts with each wing's unigram
    count (never broadcast — vocabulary is fact-sized at crawl
    scale), a single-row broadcast of (U, B), and a global
    ``orderBy().limit()`` that compiles to TakeOrderedAndProject
    (per-partition top-k heaps, no global sort shuffle).
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda w: w != ""
    )
    tokens_df = df.select(words.alias("_ws"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("_ws") - 1),
        lambda i: F.struct(
            F.element_at("_ws", i).alias("w1"),
            F.element_at("_ws", (i + F.lit(1)).cast("int")).alias("w2"),
        ),
    )
    big = (
        tokens_df.where(F.size("_ws") >= 2)
        .select(F.explode(bigrams).alias("_bg"))
        .select("_bg.w1", "_bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= min_count)
    )
    uni = (
        tokens_df.select(F.explode("_ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_cw"))
    )
    totals = F.broadcast(
        tokens_df.select(
            F.sum(F.size("_ws")).alias("_u"),
            F.sum(F.greatest(F.size("_ws") - 1, F.lit(0))).alias("_b"),
        )
    )
    pmi = F.round(
        F.log("pair_count")
        + F.lit(2.0) * F.log("_u")
        - F.log("_b")
        - F.log("_c1")
        - F.log("_c2"),
        6,
    )
    scored = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("_cw").alias("_c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("_cw").alias("_c2")), "w2")
        .crossJoin(totals)
        .select("w1", "w2", "pair_count", pmi.alias("pmi"))
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_k)


def balanced_sample(
    df: DataFrame,
    cap_share: float = 0.10,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "balance-v1",
) -> DataFrame:
    """Materialize the balanced corpus that :func:`source_mix`
    prescribes: every source capped at ``cap_share`` of the corpus by
    deterministic per-source hash downsampling (the actual
    domain-reweighting step, not just its rates).

    Per-source keep threshold = round(min(1, cap_share * total / n_src)
    * 10000); a row survives iff pmod(hash32(seed | id), 10000) falls
    below its source's threshold — the same engine-portable membership
    contract as hash_split/hash_sample (re-running, re-reading, or
    adding documents never flips existing members).

    Scale shape: one map-side-combinable groupBy(source) plus a 1-row
    total — both dimension-sized — broadcast back onto the fact table,
    so the corpus itself never shuffles; the filter is pure codegen.
    """
    from .dedup import portable_hash32

    per_src = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    totals = df.agg(F.count(F.lit(1)).alias("_t"))
    thr = F.broadcast(
        per_src.crossJoin(F.broadcast(totals)).select(
            source_col,
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(cap_share)) * F.col("_t") / F.col("_n"),
                )
                * 10000
            )
            .cast("long")
            .alias("_thr"),
        )
    )
    bucket = F.pmod(
        portable_hash32(
            F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))
        ),
        F.lit(10000),
    )
    return df.join(thr, source_col).where(bucket < F.col("_thr")).select(*df.columns)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "wsample-v1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis-Spirakis priority sample: row i gets priority
    u_i^(1/w_i) with u_i a seeded engine-portable uniform in (0, 1],
    and the top-``k`` priorities are the sample.  The quality-weighted
    downsampling step of corpus curation (weight = quality score or
    token count): inclusion probability scales with weight, membership
    is a pure function of (seed, id, weight) — rerunning, resharding,
    or re-reading never changes the sample, unlike df.sample.

    Priorities compare in log space (ln(u)/w, same order as u^(1/w))
    rounded to 12 decimals with an ``id_col`` tiebreak, so the
    selection is a total order both engines reproduce bit-identically
    (ulp-level libm differences vanish at the 1e-12 grid).  Rows with
    non-positive weight are excluded (they cannot be drawn).

    Scale posture: pure narrow scoring + ``orderBy().limit(k)``, which
    compiles to TakeOrderedAndProject — per-partition top-k heaps and
    a driver merge of P x k candidates, never a global sort.  For
    P x k beyond driver comfort, pre-filter with a score threshold the
    way sinks.dense_index routes its huge-P sample.
    """
    from .dedup import portable_hash60

    h = portable_hash60(
        F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))
    )
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("double")
    score = F.round(F.log(u) / w, 12)
    return (
        df.where(w > 0)
        .select("*", score.alias("sample_priority"))
        .orderBy(F.col("sample_priority").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def bigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-likelihood under an add-one-
    smoothed BIGRAM language model trained on the corpus itself — the
    context-aware upgrade of :func:`unigram_nll` (CCNet-style
    perplexity filtering scores word-order divergence too: shuffled or
    templated text that fools a unigram model scores high here).

    Model: p(w2 | w1) = (c(w1, w2) + 1) / (c(w1) + V), with c(w1, w2)
    the corpus bigram count, c(w1) the corpus unigram count, and V the
    unigram vocabulary size.  nll(d) = -sum over d's bigrams of
    ln p / n_bigrams(d).  Documents with fewer than two tokens produce
    no row (no bigram to score).

    Scale shape mirrors unigram_nll: one tokenize + adjacent-pair
    explode, a (doc, w1, w2) tf aggregation and (w1, w2) / (w1) corpus
    aggregations — all map-side combinable, so zipfian-hot pairs
    ("of the") collapse in the partial agg — two equi-joins carrying
    one row per (doc, distinct bigram), a 1-row broadcast of V, and a
    final (doc) rollup.  No UDF, nothing wider than one row per
    (doc, distinct bigram).
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
    )
    # sequence(1, 0) counts DOWN — guard short docs explicitly
    pair_struct = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.struct(
                F.element_at(words, i).alias("w1"),
                F.element_at(words, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    tf = (
        df.select(F.col(id_col), F.explode(pair_struct).alias("_bg"))
        .select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    cb = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("_cb"))
    cu = (
        df.select(F.explode(words).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_cu"))
    )
    vocab = F.broadcast(cu.agg(F.count(F.lit(1)).alias("_v")))
    return (
        tf.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .crossJoin(vocab)
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.round(
                -F.sum(
                    F.col("tf")
                    * (
                        F.log(F.col("_cb") + F.lit(1.0))
                        - F.log(F.col("_cu") + F.col("_v"))
                    )
                )
                / F.sum("tf"),
                6,
            ).alias("nll"),
        )
    )


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    min_share: float = 0.01,
    use_sketch_candidates: bool = True,
) -> DataFrame:
    """EXACT corpus heavy hitters: every token whose share of all
    corpus tokens is >= ``min_share``, with its exact count and share.

    Two passes, Misra-Gries candidate generation + exact recount:

    1. CANDIDATES — each partition streams its tokens through a
       Misra-Gries summary with ``k = ceil(1/min_share)`` counters
       (``mapInPandas``; O(k) memory per task regardless of
       vocabulary size). MG guarantees any token with local count
       > n_part/(k+1) keeps a counter; a token with GLOBAL share >=
       min_share must have local share >= min_share in at least one
       partition (averaging), and min_share > 1/(k+1) by the choice
       of k, so every true heavy hitter survives somewhere. The union
       of per-partition candidates (<= k rows each) is collected —
       tiny by construction — and broadcast.
    2. RECOUNT — exact map-side-combinable count of ONLY the candidate
       tokens (the collected candidate list compiles to an in-set
       filter applied right at the token generator, before any
       aggregation state builds), then the exact ``cnt/N >= min_share``
       cut.

    The recount makes the result exact whatever MG kept extra —
    correctness never depends on the sketch, only completeness does
    (and that is the MG guarantee above). This is the shape that
    survives a vocabulary that does NOT fit in memory: the full
    (term, count) aggregation — :func:`corpus_token_histogram` — is
    the simple alternative, but its shuffle carries the whole
    vocabulary; here the shuffle carries <= k * n_partitions rows.
    ``use_sketch_candidates=False`` falls back to the full histogram
    (for the oracle-equivalence pytest).

    Output: (term, cnt, share) with share rounded to 6 dp, only terms
    with share >= min_share.
    """
    toks = df.select(
        F.explode(
            F.filter(tokens(F.col(text_col)), lambda x: x != "")
        ).alias("term")
    )
    total = F.broadcast(toks.agg(F.count(F.lit(1)).cast("long").alias("_n")))
    if use_sketch_candidates:
        import math

        import pandas as pd

        k = int(math.ceil(1.0 / float(min_share)))

        def mg_partition(batches):
            counters: dict[str, int] = {}
            for pdf in batches:
                for term in pdf["term"]:
                    if term in counters:
                        counters[term] += 1
                    elif len(counters) < k:
                        counters[term] = 1
                    else:
                        dead = [t for t, c in counters.items() if c == 1]
                        for t in counters:
                            counters[t] -= 1
                        for t in dead:
                            del counters[t]
            yield pd.DataFrame({"term": list(counters.keys())})

        cand = [
            r[0]
            for r in toks.mapInPandas(mg_partition, "term string")
            .distinct()
            .collect()
        ]
        counted = (
            toks.where(F.col("term").isin(cand))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
    else:
        counted = toks.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
    return (
        counted.crossJoin(total)
        .select(
            "term",
            "cnt",
            F.round(F.col("cnt") / F.col("_n"), 6).alias("share"),
        )
        .where(F.col("cnt") / F.col("_n") >= F.lit(float(min_share)))
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 1000,
) -> DataFrame:
    """Posting-list construction — the search-index build step over a
    web corpus: one row per indexed term with its document frequency
    and the SORTED posting list of doc ids.

    ``max_df`` drops stopword-grade terms (df > max_df) BEFORE any
    posting list materializes: document frequencies come from a
    map-side-combinable count aggregation (zipf-hot terms collapse in
    the partial agg), the filter is applied to that skinny (term, df)
    table, and only surviving terms flow into the term-keyed
    ``collect_list`` — so no aggregation group ever holds more than
    ``max_df`` doc ids and the classic stopword hot-key cannot occur.
    At production scale the long posting lists you DO want to keep are
    sharded into fixed-size posting *blocks* ((term, block_no) keys) —
    the df-bounded single-list form here is the gate-verifiable core.

    Output: (term, df_count, postings) sorted-array postings.
    """
    td = (
        df.select(
            F.col(id_col).alias("_doc"),
            F.explode(
                F.array_distinct(
                    F.filter(tokens(F.col(text_col)), lambda x: x != "")
                )
            ).alias("term"),
        )
    )
    dft = (
        td.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df_count"))
        .where(F.col("df_count") <= F.lit(int(max_df)))
    )
    return (
        td.join(dft, "term")
        .groupBy("term", "df_count")
        .agg(F.sort_array(F.collect_list("_doc")).alias("postings"))
        .select("term", "df_count", "postings")
    )


def fingerprint_containment(
    df: DataFrame,
    benchmark: DataFrame,
    window: int = 16,
    keep_mod: int = 8,
    hash_fn: str = "xxhash64",
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Character-level contamination via winnowing-fingerprint
    containment — the complement of :func:`ngram_contamination`: word
    n-grams miss leakage that survives tokenization changes (casing,
    punctuation, whitespace edits), while character-shingle sketches
    catch near-verbatim passages. For each (corpus doc, benchmark
    item) pair that shares >= ``min_shared`` distinct fingerprints,
    emits the shared count and the containment fraction
    ``n_shared / |benchmark fingerprints|`` (Broder containment,
    estimated through the winnowing sample).

    Scale shape identical to ngram_contamination: both sides reduce to
    distinct (id, fp) rows, the benchmark side is BROADCAST (eval sets
    are tiny next to the corpus), the join is a broadcast hash join on
    the fingerprint, and the (doc, bench) count aggregates map-side.
    Corpus docs sharing nothing never leave their scan partition.
    """
    fps = rolling_fingerprints(
        F.col(text_col), window=window, keep_mod=keep_mod, hash_fn=hash_fn
    )
    d = df.select(
        F.col(id_col), F.explode(F.array_distinct(fps)).alias("fp")
    )
    bfps = rolling_fingerprints(
        F.col(bench_text_col), window=window, keep_mod=keep_mod, hash_fn=hash_fn
    )
    b = benchmark.select(
        F.col(bench_id_col), F.explode(F.array_distinct(bfps)).alias("fp")
    )
    b_sizes = b.groupBy(bench_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n_bench")
    )
    return (
        d.join(F.broadcast(b), "fp")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(int(min_shared)))
        .join(F.broadcast(b_sizes), bench_id_col)
        .select(
            id_col,
            bench_id_col,
            "n_shared",
            F.round(F.col("n_shared") / F.col("_n_bench"), 6).alias("containment"),
        )
    )


def normalize_text(text_col: Column) -> Column:
    """C4-style text cleanup: strip ASCII control characters, collapse
    whitespace runs to single spaces, trim. Pure chained
    ``regexp_replace`` (whole-stage codegen, zero shuffle); patterns
    sit in the Java-regex ∩ RE2 subset so the DuckDB oracle replays
    them byte-identically. Unicode-category scrubbing (Cf/Co/Cs) is a
    corpus-specific layer on top — kept out of the portable core."""
    no_ctl = F.regexp_replace(
        text_col, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""
    )
    return F.trim(F.regexp_replace(no_ctl, r"\s+", " "))


def negative_samples(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    seed: str = "negs",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    for each document, ``k`` pseudo-random other documents drawn by an
    engine-portable seeded hash over (id, sample index) — reproducible
    across runs, shards and engines (no RNG state, unlike
    ``df.sample``), so a training run can be bit-replayed.

    Requires DENSE ids 0..N-1 (the corpus contract here; a production
    corpus first materializes a dense row index — dense_index in
    sinks.py is exactly that operator). Accidental self-pairs shift to
    the next id mod N. The fan-out is a bounded in-scan explode (k
    rows per doc), N is one broadcast scalar, nothing shuffles.

    Output: (id, sample_idx, neg_id).
    """
    from .dedup import portable_hash60

    n = F.broadcast(df.agg(F.count(F.lit(1)).cast("long").alias("_n")))
    fan = df.select(F.col(id_col)).crossJoin(n).select(
        id_col,
        "_n",
        F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("sample_idx"),
    )
    h = portable_hash60(
        F.concat(
            F.lit(seed), F.lit(":"),
            F.col(id_col).cast("string"), F.lit(":"),
            F.col("sample_idx").cast("string"),
        )
    )
    raw = F.pmod(h, F.col("_n"))
    return fan.select(
        id_col,
        F.col("sample_idx").cast("long").alias("sample_idx"),
        F.when(raw == F.col(id_col), F.pmod(raw + 1, F.col("_n")))
        .otherwise(raw)
        .cast("long")
        .alias("neg_id"),
    )


def quantile_bins(
    df: DataFrame,
    ps: tuple[int, ...] = (25, 50, 75),
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum/mix binning: each document gets its per-group
    token-count quantile bucket — ``bucket = number of group quantile
    thresholds strictly below the document's value`` (len(ps)+1
    buckets, 0 = shortest quartile). The standard knob for
    length-curriculum schedules and per-bucket sampling rates.

    Composes :func:`token_quantiles` (exact counting-sort quantiles —
    the shuffle carries one row per distinct (group, value)); the
    per-group threshold arrays are a handful of rows BROADCAST onto
    the corpus, so the fact table never shuffles — the whole doc-side
    pass is one codegen'd projection.

    Output: (id, group, n_tok, bucket).
    """
    q = token_quantiles(df, ps=ps, group_col=group_col, text_col=text_col)
    th = q.groupBy(group_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("p"), F.col("q_value")))
        ).alias("_thr")
    )
    v = df.select(
        F.col(id_col),
        F.col(group_col),
        token_count(F.col(text_col)).alias("n_tok"),
    )
    return v.join(F.broadcast(th), group_col).select(
        id_col,
        group_col,
        "n_tok",
        F.size(
            F.filter(F.col("_thr"), lambda t: F.col("n_tok") > t["q_value"])
        ).cast("long").alias("bucket"),
    )


def langid_confusion(
    df: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Language-id evaluation: confusion counts of the labeled language
    vs the n-gram heuristic's prediction — the measured error analysis
    behind trusting (or not trusting) the cheap classifier at corpus
    scale. One map-side-combinable count aggregation over (label,
    prediction)."""
    return (
        df.select(
            F.col(lang_col).alias("label"),
            lang_id(F.col(text_col)).alias("predicted"),
        )
        .groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    fraction: float = 0.2,
    id_col: str = "doc_id",
    seed: str = "strat-v1",
) -> DataFrame:
    """EXACT-proportion stratified sampling: every stratum contributes
    exactly ``ceil(fraction * n_stratum)`` rows (a non-empty stratum is
    never silently dropped), chosen deterministically — rows are ranked
    within their stratum by the engine-portable seeded hash (id as
    tiebreak) and the bottom slice kept.

    This is the guarantee :func:`hash_sample` deliberately does NOT
    make: per-row hash membership is stable under corpus growth but
    only *approximately* proportional per stratum — a rare stratum
    (a low-resource language) can vanish from the sample entirely.
    Here proportions are exact at the cost of re-ranking when the
    corpus changes.

    Plan shape: the rank and the stratum-size count are two window
    functions over the SAME partition key, so Catalyst plans ONE
    exchange on ``strata_col`` for the whole operator. Skew note: one
    giant stratum serializes its rank into one task — for corpus-scale
    strata use hash_sample's per-row membership instead (or pre-split
    the stratum); for dimension-ish strata (languages, sources) this
    exchange is the exact-guarantee price.
    """
    from .dedup import portable_hash32

    h = portable_hash32(
        F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    wn = Window.partitionBy(strata_col)
    return (
        df.select(
            "*",
            F.row_number().over(w).alias("_rk"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        .where(
            F.col("_rk") <= F.ceil(F.col("_n") * F.lit(float(fraction))).cast("long")
        )
        .drop("_rk", "_n")
    )


def _classifier_features(df: DataFrame, label: Column, text_col: str = "text") -> DataFrame:
    """Fixed (data-independent) feature map for the quality classifier:
    [1, ln(1+n_tokens), mean_word_len/10, stopword_ratio, punct_ratio],
    built on quality_features' 6-dp-rounded columns so both engines
    start each GD iteration from bit-identical inputs."""
    q = quality_features(df, text_col)
    return q.select(
        "*",
        label.cast("double").alias("_y"),
        F.lit(1.0).alias("_x0"),
        F.round(F.log(F.lit(1.0) + F.col("n_tokens")), 6).alias("_x1"),
        (F.col("mean_word_len") / 10).alias("_x2"),
        F.col("stopword_ratio").alias("_x3"),
        F.col("punct_ratio").alias("_x4"),
    )


_CLF_DIM = 5


def train_quality_classifier(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    iters: int = 3,
    lr: float = 1.0,
) -> list[float]:
    """Train a logistic-regression quality classifier (the CCNet /
    WebText-style model-based corpus filter) with deterministic
    full-batch gradient descent — the distributed-training shape, not
    a library call: each iteration is ONE map-side-combinable
    aggregation over the corpus (sum of per-row gradient terms — the
    treeAggregate pattern of MLlib's own LBFGS), shuffling exactly
    ``dim+1`` doubles; the driver holds only the weight vector.

    Determinism contract: weights are rounded to 6 dp at every
    iteration boundary, so the two engines' FP sum-order differences
    (~1e-13 on corpus-scale sums) are quantized away instead of
    compounding. (kg.pagerank, by contrast, rounds only at READOUT:
    its per-iteration values are sums of rank/degree fractions whose
    cross-engine drift stays ~1e-13 per iteration over its fixed small
    iteration count — here the sigmoid's exponential would AMPLIFY
    drift multiplicatively, so boundary rounding is load-bearing.)
    spark.ml.LogisticRegression exists but is neither
    iteration-deterministic nor oracle-mirrorable; this is, and three
    fixed iterations are the contract.

    Scale note: ``iters+1`` corpus scans total (one per iteration plus
    scoring) — cache/materialize the input upstream if the feature
    computation is expensive.
    """
    feats = _classifier_features(df, label, text_col)
    w = [0.0] * _CLF_DIM
    xs = [F.col(f"_x{j}") for j in range(_CLF_DIM)]
    for _ in range(int(iters)):
        z = sum((F.lit(w[j]) * xs[j] for j in range(_CLF_DIM)), F.lit(0.0))
        s = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        row = feats.agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.sum((s - F.col("_y")) * xs[j]).alias(f"_g{j}") for j in range(_CLF_DIM)],
        ).collect()[0]
        n = float(row["_n"])
        w = [round(w[j] - lr * float(row[f"_g{j}"]) / n, 6) for j in range(_CLF_DIM)]
    return w


def score_quality_classifier(
    df: DataFrame,
    weights: list[float],
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents under trained weights: one narrow codegen pass,
    p_keep = sigmoid(w . x) rounded 6 dp. Returns
    (id_col, label, p_keep)."""
    feats = _classifier_features(df, label, text_col)
    z = sum(
        (F.lit(float(weights[j])) * F.col(f"_x{j}") for j in range(_CLF_DIM)),
        F.lit(0.0),
    )
    return feats.select(
        id_col,
        F.col("_y").alias("label"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("p_keep"),
    )


def oov_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """Tokenizer-vocabulary coverage report: the vocabulary is the
    corpus's own ``vocab_size`` most frequent tokens (count desc, term
    asc — a deterministic boundary), and each document reports how
    much of it falls outside (out-of-vocabulary tokens get split into
    many subword pieces or <unk>, so corpus-level OOV mass is the
    go/no-go number before committing a tokenizer).

    Plan shape: one map-side-combinable token count (the shuffle
    carries one row per DISTINCT term), a top-N pick that compiles to
    TakeOrderedAndProject, the vocabulary broadcast back against the
    exploded token stream (fact side never shuffles for the
    membership test), one doc-keyed aggregation. Documents with zero
    alpha tokens emit no row (nothing to cover).

    Output: (id_col, n_tokens, n_oov, oov_rate) — token counts are
    non-distinct (mass, not types).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), F.asc("term"))
        .limit(int(vocab_size))
        .select("term", F.lit(True).alias("_iv"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_iv").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the
    gibberish/compression-junk filter: natural text sits ~2.5-3.2,
    base64 blobs and repeated-char padding fall far outside. Uses the
    identity H = ln(n) - sum(c*ln(c))/n over per-character counts, so
    the whole operator is ONE char explode + a (doc, char)
    map-side-combinable count + ONE doc-keyed rollup — no p_i column,
    no second pass. Empty documents emit no row.

    Output: (id_col, n_chars_h, entropy rounded 6 dp).
    """
    ch = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).where(F.col("ch") != "")
    counts = ch.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_chars_h"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("_clnc"),
        )
        .select(
            id_col,
            "n_chars_h",
            F.round(
                F.log(F.col("n_chars_h")) - F.col("_clnc") / F.col("n_chars_h"), 6
            ).alias("entropy"),
        )
    )


def classifier_prf(
    conf: DataFrame,
    label_col: str = "label",
    pred_col: str = "predicted",
    n_col: str = "n_docs",
) -> DataFrame:
    """Per-class precision / recall / F1 from a confusion table
    (label, predicted, count) — the eval readout that turns
    :func:`langid_confusion` (or any classifier confusion) into a
    keep/retrain decision per class. A confusion table is
    classes^2 rows, so every step here is dimension-sized: two
    re-aggregations (true-class and predicted-class totals), the
    diagonal, and left joins over the class list. Classes appearing
    only as predictions (e.g. 'und') report recall over zero truth
    as 0.0.

    Output: (class, n_true, n_pred, tp, precision, recall, f1),
    ratios rounded 6 dp, zero-denominator cases -> 0.0.
    """
    row = conf.groupBy(F.col(label_col).alias("class")).agg(
        F.sum(n_col).cast("long").alias("n_true")
    )
    col = conf.groupBy(F.col(pred_col).alias("class")).agg(
        F.sum(n_col).cast("long").alias("n_pred")
    )
    diag = conf.where(F.col(label_col) == F.col(pred_col)).select(
        F.col(label_col).alias("class"), F.col(n_col).cast("long").alias("tp")
    )
    classes = row.select("class").unionByName(col.select("class")).distinct()
    j = (
        classes.join(row, "class", "left")
        .join(col, "class", "left")
        .join(diag, "class", "left")
        .na.fill(0, ["n_true", "n_pred", "tp"])
    )
    p = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(F.lit(0.0))
    r = F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true")).otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return j.select(
        "class",
        "n_true",
        "n_pred",
        "tp",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


MENTION_PATTERNS: list[tuple[str, str]] = [
    # Java-regex ∩ RE2 subset, same portability contract as
    # PII_PATTERNS (the email/ipv4 literals are shared with it)
    ("email", PII_PATTERNS[0][1]),
    ("url", r"https?://[^\s]+"),
    ("ipv4", PII_PATTERNS[1][1]),
]


def entity_mentions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Structured mention EXTRACTION — the other half of pii_scrub
    (which redacts): one output row per regex match, with the match's
    0-based ordinal within (document, kind), the raw material for
    KG mention tables and contact/link harvesting. One narrow
    regexp_extract_all + posexplode per pattern, union — zero
    shuffles, fan-out bounded by matches per document.

    Output: (id_col, kind, pos, mention).
    """
    pats = patterns if patterns is not None else MENTION_PATTERNS
    parts = []
    for kind, pat in pats:
        parts.append(
            df.select(
                F.col(id_col),
                F.lit(kind).alias("kind"),
                F.posexplode(
                    F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
                ).alias("pos", "mention"),
            ).select(id_col, "kind", F.col("pos").cast("long").alias("pos"), "mention")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def winsorize(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "lang",
    id_col: str = "doc_id",
    lower_p: int = 5,
    upper_p: int = 95,
) -> DataFrame:
    """Per-group winsorization at EXACT discrete quantiles: clip an
    integer-valued metric into its group's [p_lower, p_upper] range —
    the robust-stats tail clamp applied before any mean/stddev-based
    feature (a handful of 100 MB pathological documents otherwise own
    the corpus statistics).

    The thresholds reuse :func:`token_quantiles`' counting-sort shape:
    the metric has bounded cardinality, so exact quantiles come from a
    map-side-combinable (group, value) histogram + one cumulative
    window over histogram-sized data — never a per-group sort of the
    corpus. The smallest value whose cumulative count reaches
    ``ceil(p/100 * n)`` is the classic lower/disc quantile, integer-
    exact in any engine. The per-group (lo, hi) table is
    dimension-sized and broadcasts; the clip itself is pure codegen.

    Output: ``(id, group, value, clipped, was_clipped)``.
    """
    if not 1 <= lower_p < upper_p <= 100:
        raise ValueError(
            f"need 1 <= lower_p < upper_p <= 100, got ({lower_p}, {upper_p})"
        )
    g = F.col(group_col)
    v = F.col(value_col).cast("long")
    hist = (
        # NULL metric values are excluded from the quantile population
        # (they would sort first and poison the cumulative order); the
        # output side applies the same filter below
        df.where(v.isNotNull())
        .select(g.alias("_g"), v.alias("_v"))
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wcum = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("_g")
    cum = hist.select(
        "_g",
        "_v",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(wtot).alias("_n"),
    )
    both = cum.select(
        "_g", "_v", "_cum", "_n",
        F.explode(F.array(F.lit(int(lower_p)), F.lit(int(upper_p)))).alias("_p"),
    )
    need = F.ceil(F.col("_p") * F.col("_n") / 100.0).cast("long")
    qs = (
        both.where(F.col("_cum") >= need)
        .groupBy("_g", "_p")
        .agg(F.min("_v").alias("_q"))
    )
    bounds = F.broadcast(
        qs.groupBy("_g").agg(
            F.min(F.when(F.col("_p") == int(lower_p), F.col("_q"))).alias("_lo"),
            F.min(F.when(F.col("_p") == int(upper_p), F.col("_q"))).alias("_hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi"))
    return (
        # NULL metrics are excluded from the OUTPUT too (greatest()
        # ignores NULLs, so a NULL value would otherwise masquerade as
        # "clipped to the lower bound")
        df.where(v.isNotNull())
        .select(F.col(id_col), g.alias("group"), v.alias("value"))
        .join(bounds, F.col("group") == F.col("_g"))
        .select(
            id_col,
            "group",
            "value",
            clipped.alias("clipped"),
            (clipped != F.col("value")).alias("was_clipped"),
        )
    )
