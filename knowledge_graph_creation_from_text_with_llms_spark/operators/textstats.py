"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting. All native column expressions —
each has an exact DuckDB oracle for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import bind_once, char_shingles_expr, tokens_expr

# tiny per-language function-word lists for the n-gram/stopword
# heuristic language identifier (deterministic, dependency-free)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "a", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "fr": ("le", "la", "les", "des", "et", "du"),
    "de": ("der", "die", "das", "und", "nicht", "ein"),
    "zh": ("de", "shi", "le", "wo", "ni", "ta"),
}

STOPWORDS = LANG_MARKERS["en"]


def _marker_score(toks: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def language_best_expr(text_col: str, toks: Column | None = None) -> Column:
    """struct(score, lang) of the winning language: argmax of marker
    counts, ties broken by language code order (deterministic).
    `toks` (optional): precomputed token-array column — pass it when a
    composed projection already stages the tokens so the regex
    tokenization is not re-evaluated per consuming expression."""
    if toks is None:
        toks = tokens_expr(text_col)
    scores = F.array(
        *[
            F.struct(
                _marker_score(toks, LANG_MARKERS[lang]).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_MARKERS)
        ]
    )
    # max over (score, reversed-lang) — we want max score, then FIRST
    # lang alphabetically, so sort desc by score, asc by lang
    return F.aggregate(
        scores,
        F.struct(F.lit(-1).alias("score"), F.lit("zzz").alias("lang")),
        lambda acc, s: F.when(
            (s["score"] > acc["score"])
            | ((s["score"] == acc["score"]) & (s["lang"] < acc["lang"])),
            s,
        ).otherwise(acc),
    )


def predicted_lang_expr(text_col: str, toks: Column | None = None) -> Column:
    best = language_best_expr(text_col, toks)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def language_id(docs: DataFrame) -> DataFrame:
    """(doc_id, predicted_lang, score): argmax of per-language marker
    counts; 'und' when no marker hits."""
    best = language_best_expr("text")
    return docs.select(
        F.col("doc_id"),
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "predicted_lang"
        ),
        best["score"].cast("int").alias("marker_hits"),
    )


def quality_exprs(text_col: str, toks: Column | None = None) -> dict[str, Column]:
    """Named quality-signal expressions over one text column. Formula
    is arbitrary-but-fixed: the value is the *pipeline* (filter
    pushdown on a computed column), not the scholarship. `toks`: see
    language_best_expr."""
    t = F.col(text_col)
    if toks is None:
        toks = tokens_expr(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    distinct_ratio = F.when(
        n_tokens > 0, F.size(F.array_distinct(toks)) / n_tokens
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    score = (
        0.4 * len_score + 0.3 * distinct_ratio + 0.2 * (1 - punct_ratio)
        + 0.1 * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_punct": n_punct,
        "distinct_ratio": distinct_ratio,
        "stop_ratio": stop_ratio,
        "quality_score": score,
    }


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features plus a
    composite score in [0,1]."""
    q = quality_exprs("text")
    return docs.select(
        F.col("doc_id"),
        q["n_chars"].cast("long").alias("n_chars"),
        q["n_tokens"].cast("long").alias("n_tokens"),
        q["n_punct"].cast("long").alias("n_punct"),
        q["distinct_ratio"].alias("distinct_ratio"),
        q["stop_ratio"].alias("stop_ratio"),
        q["quality_score"].alias("quality_score"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword count (letter runs,
    digit runs, and single non-alnum glyphs each count as a token —
    the standard pre-tokenizer upper bound)."""
    t = F.col("text")
    ws = F.size(F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != ""))
    bpe = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    )
    return docs.select(
        F.col("doc_id"),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
    )


# winnowing: char k-gram length and window width of `fingerprints`
FP_K = 8
FP_WINDOW = 8


def fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing-style rolling-hash fingerprints: md5 of char k-grams
    (k = FP_K), minimum per window of FP_WINDOW consecutive positions;
    the distinct minima are the document's fingerprint set. Returns (doc_id,
    n_fingerprints, min_fingerprint) — a compact, joinable sketch.

    Entirely map-side: a document's windows never leave its row, so
    the per-window minima fold over the bound digest array instead of
    exploding one row per gram through two grouping exchanges (the
    earlier posexplode → groupBy(id, win) → groupBy(id) shape shuffled
    ~|text| rows per doc twice to compute a per-doc scalar pair).
    array_min / array_distinct use the same binary string ordering and
    equality as the min/count-distinct aggregates — values identical.
    Docs with no grams (length < FP_K, incl. NULL text) are absent from
    the output, exactly as the inner grouping dropped them; the
    eligibility predicate length(lower(text)) >= FP_K is the cheap exact
    equivalent (lowercasing can change character counts for some
    Unicode, so it tests the lowered length the shingler uses)."""
    eligible = docs.where(F.length(F.lower(F.col("text"))) >= FP_K)

    def _of(hs: Column) -> Column:
        n_win = F.floor((F.size(hs) - 1) / FP_WINDOW).cast("int")
        fps = F.transform(
            F.sequence(F.lit(0), n_win),
            lambda w: F.array_min(F.slice(hs, w * FP_WINDOW + 1, FP_WINDOW)),
        )
        return F.struct(
            F.size(F.array_distinct(fps)).cast("long").alias("n"),
            F.array_min(fps).alias("m"),
        )

    out = eligible.select(
        F.col("doc_id"),
        bind_once(
            bind_once(
                char_shingles_expr("text", FP_K),
                lambda gs: F.transform(gs, lambda g: F.md5(g)),
            ),
            _of,
        ).alias("_fp"),
    )
    return out.select(
        F.col("doc_id"),
        F.col("_fp").getField("n").alias("n_fingerprints"),
        F.col("_fp").getField("m").alias("min_fingerprint"),
    )


def top_ngram_fraction_expr(
    text_col: str, n: int, toks: Column | None = None
) -> Column:
    """Fraction of all word n-grams taken by the single most frequent
    one. Map-only: the n-gram mode is found by sorting the n-gram
    array and taking the longest equal-run with one aggregate — no
    per-(doc, gram) shuffle, so the plan is a projection at any
    corpus size. `toks`: see language_best_expr."""
    def _frac(toks: Column) -> Column:
        grams = F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
            lambda _, i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )

        def _of(g: Column) -> Column:
            best = F.aggregate(
                F.array_sort(g),
                F.struct(
                    F.lit("").alias("prev"),
                    F.lit(0).alias("run"),
                    F.lit(0).alias("best"),
                ),
                lambda acc, x: F.struct(
                    x.alias("prev"),
                    F.when(x == acc["prev"], acc["run"] + 1)
                    .otherwise(F.lit(1))
                    .alias("run"),
                    F.greatest(
                        acc["best"],
                        F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                            F.lit(1)
                        ),
                    ).alias("best"),
                ),
            )["best"]
            return best.cast("double") / F.greatest(F.size(g), F.lit(1))

        # the gram array feeds both the run-length fold and the size
        # denominator — bound once so it is built once per row
        return bind_once(grams, _of)

    if toks is None:
        # unbound, the captured token expr would re-tokenize per gram
        return bind_once(tokens_expr(text_col), _frac)
    return _frac(toks)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    all word bigrams / trigrams taken by the single most frequent one
    (boilerplate and degenerate generations score high)."""
    # stage the token array once: both fraction expressions read the
    # same column instead of re-running the regex tokenization (and the
    # array stays in one task-local projection — no shuffle appears)
    return docs.select(
        F.col("doc_id"), tokens_expr("text").alias("_toks")
    ).select(
        F.col("doc_id"),
        top_ngram_fraction_expr("text", 2, F.col("_toks")).alias(
            "top_bigram_fraction"
        ),
        top_ngram_fraction_expr("text", 3, F.col("_toks")).alias(
            "top_trigram_fraction"
        ),
    )


# corpus_filter's rules: keep English docs of >= 5 tokens, quality
# >= 0.5 and top-bigram fraction <= 0.5
ALLOWED_LANGS = ("en",)
MIN_TOKENS = 5
MIN_QUALITY = 0.5
MAX_TOP_BIGRAM = 0.5


def corpus_filter(docs: DataFrame) -> DataFrame:
    """The composed training-corpus quality gate: language-ID +
    quality score + repetition signal evaluated in ONE projection
    (language/quality/repetition are all per-row expressions, so
    composing them costs no join and no shuffle — the whole filter is
    a map over the scan, and `keep` pushes down like any computed
    column). Emits the decision plus the ordered reasons so dropped
    volumes are auditable per rule, never silent."""
    staged = docs.select("*", tokens_expr("text").alias("_toks"))
    toks = F.col("_toks")
    q = quality_exprs("text", toks)
    lang = predicted_lang_expr("text", toks)
    top2 = top_ngram_fraction_expr("text", 2, toks)
    reasons = F.array_compact(
        F.array(
            F.when(~lang.isin(*ALLOWED_LANGS), F.lit("lang")),
            F.when(q["n_tokens"] < MIN_TOKENS, F.lit("too_short")),
            F.when(q["quality_score"] < MIN_QUALITY, F.lit("low_quality")),
            F.when(top2 > MAX_TOP_BIGRAM, F.lit("repetitive")),
        )
    )
    return staged.select(
        F.col("doc_id"),
        lang.alias("predicted_lang"),
        q["n_tokens"].cast("long").alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
        top2.alias("top_bigram_fraction"),
        (F.size(reasons) == 0).alias("keep"),
        F.concat_ws(",", reasons).alias("drop_reasons"),
    )


# -- PII scrubbing ---------------------------------------------------------

# deliberately conservative, RE2-compatible patterns (no lookaround)
# so the DuckDB oracle runs the same regexes
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9 ()./-]{6,18}[0-9]", "<PHONE>"),
)


def scrub_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, text_scrubbed, n_email, n_ip, n_phone): PII spans replaced
    by typed placeholder tokens, with per-kind counts for audit. Pure
    regexp projection; patterns applied in declaration order (emails
    first so their digits can't look like phone numbers)."""
    scrubbed = F.col("text")
    counts = []
    for kind, pat, token in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{kind}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return docs.select(
        F.col("doc_id"), scrubbed.alias("text_scrubbed"), *counts
    )


# the percentiles `group_percentiles` reports, as columns p50, p90, p99
PERCENTILES = (0.5, 0.9, 0.99)


def group_percentiles(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Exact discrete percentiles of `value_col` per group: for each p
    in PERCENTILES,
    the smallest value whose rank reaches ceil(p·n) (percentile_disc
    semantics, made explicit so every engine computes the identical
    value — built-in quantile functions disagree on interpolation and
    tie handling across engines).

    One shuffle (the per-group sort window); tie-robust: `min(value
    WHERE rank >= ceil(p·n))` picks the same value regardless of how
    row_number breaks ties between equal values. For percentiles of a
    100 TB column use this per-partition-group; a global percentile
    over one giant group should use approx_percentile instead (exact
    global ranks need a full sort)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_col)
    wn = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(group_col),
        F.col(value_col).alias("_v"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("_rn") >= F.ceil(F.lit(p) * F.col("_n")), F.col("_v")
            )
        ).alias(f"p{str(p).replace('0.', '').ljust(2, '0')}")
        for p in PERCENTILES
    ]
    return ranked.groupBy(group_col).agg(
        *aggs, F.max("_n").cast("long").alias("n_rows")
    )


def strip_frequent_lines(
    docs: DataFrame, min_df: int = 5, text_col: str = "text"
) -> DataFrame:
    """Boilerplate line removal (the CommonCrawl/CCNet trick): delete
    every line that occurs in >= min_df DISTINCT documents — nav bars,
    cookie banners, license headers — keeping order and all other
    lines. Returns (doc_id, text_clean, n_lines, n_lines_removed).

    Plan: explode lines once, count df per md5(line) (lines join on
    their 32-hex digest, not the raw string), anti-join the frequent
    set back, reassemble with a posexplode-order groupBy. Two shuffles
    (df count, reassembly); the frequent-line set is NOT collected or
    broadcast — it joins key-partitioned, so a corpus with 10⁹
    distinct boilerplate lines still works.
    """
    lines = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("_lh", F.md5("line"))
    freq = (
        lines.groupBy("_lh")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_lh")
    )
    kept = lines.join(freq, "_lh", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("text_clean"),
        F.count(F.lit(1)).cast("long").alias("_n_kept"),
    )
    totals = docs.select(
        F.col("doc_id"),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    return (
        totals.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            "n_lines",
            (F.col("n_lines") - F.coalesce("_n_kept", F.lit(0))).alias(
                "n_lines_removed"
            ),
        )
    )


def top_ngrams_per_group(
    docs: DataFrame, group_col: str, n: int = 2, k: int = 10
) -> DataFrame:
    """Top-k most frequent word n-grams per group (source/domain/lang)
    — the standard corpus-inspection report for spotting boilerplate,
    templates and contamination before filtering. (group, gram, count,
    rank) with a fully deterministic order (count desc, gram asc).
    Plan: explode → one partial-agg groupBy → per-group top-k window
    over the (group, gram) COUNTS (cardinality #distinct grams, not
    corpus size); no collects, no unbounded arrays."""
    from pyspark.sql import Window

    from ..functions.text import word_shingles_expr

    grams = docs.select(
        F.col(group_col),
        F.explode(
            word_shingles_expr("text", n)
            if n > 1
            else tokens_expr("text")
        ).alias("gram"),
    )
    counts = grams.groupBy(group_col, "gram").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("n_occurrences"), F.asc("gram")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            group_col,
            "gram",
            "n_occurrences",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# Gopher's word-count bounds
MIN_WORDS = 50
MAX_WORDS = 100_000


def gopher_rules(docs: DataFrame) -> DataFrame:
    """The published Gopher quality heuristics (Rae et al. 2021, §A1.1)
    as one shuffle-free projection: per-document rule metrics, a flag
    per rule, and the composed keep decision — auditable like
    corpus_filter (a row explains WHY it was dropped). All native
    expressions; thresholds are the paper's.

    Rules: word count in [MIN_WORDS, MAX_WORDS]; mean word length in
    [3, 10]; symbol-to-word ratio (# and ellipsis) <= 0.1; <= 90% of
    lines starting with a bullet; <= 30% ending with an ellipsis;
    >= 80% of words containing an alphabetic character; >= 2 distinct
    everyday stopwords present.
    """
    t = F.col("text")
    toks = tokens_expr("text")
    n_words = F.size(toks)
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        )
        / n_words,
    ).otherwise(F.lit(0.0))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = F.floor(
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit(""))))
        / F.lit(3)
    )
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis) / n_words
    ).otherwise(F.lit(0.0))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(
                lines,
                lambda l: F.ltrim(l).startswith("-")
                | F.ltrim(l).startswith("*")
                | F.ltrim(l).startswith("•"),
            )
        )
        / n_lines,
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
        / n_lines,
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))) / n_words,
    ).otherwise(F.lit(0.0))
    gopher_stops = F.array(
        *[F.lit(s) for s in ("the", "be", "to", "of", "and", "that", "have", "with")]
    )
    n_stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), gopher_stops)
    )
    rules = {
        "pass_word_count": (n_words >= MIN_WORDS) & (n_words <= MAX_WORDS),
        "pass_mean_word_len": (mean_word_len >= 3) & (mean_word_len <= 10),
        "pass_symbol_ratio": symbol_ratio <= 0.1,
        "pass_bullet_lines": bullet_frac <= 0.9,
        "pass_ellipsis_lines": ellipsis_frac <= 0.3,
        "pass_alpha_words": alpha_frac >= 0.8,
        "pass_stopwords": n_stop_hits >= 2,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return docs.select(
        F.col("doc_id"),
        n_words.cast("long").alias("n_words"),
        mean_word_len.cast("double").alias("mean_word_len"),
        symbol_ratio.cast("double").alias("symbol_ratio"),
        bullet_frac.cast("double").alias("bullet_frac"),
        ellipsis_frac.cast("double").alias("ellipsis_frac"),
        alpha_frac.cast("double").alias("alpha_frac"),
        n_stop_hits.cast("long").alias("n_stop_hits"),
        *[expr.alias(name) for name, expr in rules.items()],
        keep.alias("keep"),
    )
