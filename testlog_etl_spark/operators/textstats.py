"""Text-analysis operators for training-data pipelines: tokenization,
token counting, quality scoring, language ID, fingerprinting.

All pure Column expressions (JVM codegen, no UDFs): at 100 TB these run
inside the scan's WholeStageCodegen with zero shuffles; any aggregation
on top is the caller's choice.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# word-ish tokens OR single punctuation -- the BPE-ish pre-tokenizer split
# (GPT-2-style contractions omitted; this is the regex family, not a BPE)
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language stopword lists for the n-gram/stopword-ratio heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "pour", "dans", "avec"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"],
    "es": ["el", "la", "y", "de", "un", "una", "es", "para", "en", "con"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokens (empty-string-free)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang])))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column) -> Column:
    no_punct = F.regexp_replace(col, r"[^\w\s]", "")
    return (F.length(col) - F.length(no_punct)) / F.greatest(F.length(col), F.lit(1))


def mean_token_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_features(col: Column) -> Column:
    """The quality-scoring feature struct (length / punctuation /
    stopword signals a filter stage thresholds on)."""
    return F.struct(
        F.length(col).alias("n_chars"),
        token_count(col).alias("n_tokens"),
        mean_token_len(col).alias("mean_token_len"),
        stopword_ratio(col).alias("stopword_ratio"),
        punct_ratio(col).alias("punct_ratio"),
    )


def quality_score(col: Column) -> Column:
    """Scalar [0,1] quality score: penalize too-short docs, missing
    stopwords (gibberish), extreme punctuation, weird token lengths."""
    q = quality_features(col)
    len_ok = F.least(q["n_tokens"] / F.lit(20.0), F.lit(1.0))
    stop_ok = F.least(q["stopword_ratio"] / F.lit(0.05), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(q["punct_ratio"] * F.lit(4.0), F.lit(1.0))
    shape_ok = F.when((q["mean_token_len"] >= 2) & (q["mean_token_len"] <= 12), F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round((len_ok + stop_ok + punct_ok + shape_ok) / F.lit(4.0), 6)


def lang_scores(col: Column) -> Column:
    """Per-language stopword-hit ratios as a struct (the n-gram
    heuristic's evidence vector)."""
    toks = tokens(F.lower(col))
    n = F.greatest(F.size(toks), F.lit(1))
    # NOTE: the membership lambda must be built by a factory -- a default
    # arg (lambda t, words=words: ...) would make it a TWO-parameter
    # lambda, which F.filter binds as (element, index), silently turning
    # `words` into the bigint index variable
    def member_of(words):
        return lambda t: t.isin(words)

    return F.struct(
        *[
            (F.size(F.filter(toks, member_of(words))) / n).alias(lang)
            for lang, words in STOPWORDS.items()
        ]
    )


def lang_id(col: Column, min_score: float = 0.03) -> Column:
    """argmax language, 'und' when no language clears the floor.
    Deterministic tie-break: dict order of STOPWORDS."""
    s = lang_scores(col)
    langs = list(STOPWORDS)
    best = F.greatest(*[s[lang] for lang in langs])
    out = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties
        out = F.when(s[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best >= min_score, out).otherwise(F.lit("und"))


def normalized_text(col: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, strip."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def fingerprint(col: Column) -> Column:
    """64-bit document fingerprint over normalized text (exact-dup key).
    Null text stays NULL (xxhash64(NULL) would return the seed and
    equate every null doc -- see operators/dedup.py::content_hash)."""
    return F.when(col.isNull(), F.lit(None).cast("bigint")).otherwise(
        F.xxhash64(normalized_text(col))
    )


def rolling_fingerprints(col: Column, k: int = 8, keep: int = 4) -> Column:
    """Winnowing-style selection: hash every k-char gram of the
    normalized text, keep the `keep` smallest hashes (a stable sketch --
    near-identical docs share most selected grams)."""
    norm = normalized_text(col)
    n = F.length(norm)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.xxhash64(norm.substr(i, F.lit(k))),
    )
    return F.slice(F.array_sort(grams), 1, keep)


def word_ngrams(col: Column, n: int = 2) -> Column:
    """ALL n-gram occurrences in order (not deduped -- repetition signals
    need multiplicity; `neardup.word_shingles` is the distinct variant).

    n=2 (the only registered arity) builds the grams as ONE zip_with of
    two shifted slices instead of a per-index slice+concat_ws -- the
    per-gram 2-element array allocation made gram construction the
    single largest cost of text_repetition (r13, measured 4.5 s of a
    21 s query at sf0.1). Identical strings: concat(a, ' ', b) ==
    concat_ws(' ', [a, b]) for the non-null tokens split() yields."""
    toks = tokens(col)
    cnt = F.size(toks)
    if n == 2:
        tail = cnt - 1
        grams = F.zip_with(
            F.slice(toks, 1, tail),
            F.slice(toks, 2, tail),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    else:
        grams = F.transform(
            F.sequence(F.lit(1), cnt - n + 1), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
        )
    return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))


def dup_ngram_fraction_of(grams: Column) -> Column:
    """`dup_ngram_fraction` over an already-built gram array column --
    callers that need several repetition signals from the same grams
    should materialize the array once (a projection) and derive each
    signal from the column: the gram-construction subtree is NOT
    common-subexpression-eliminated in interpreted (higher-order
    function) projections, so inlining it k times evaluates it k times
    (r13; text_repetition measured 21 s inlined vs 9 s from a column).

    Precondition: ``grams`` holds no null elements (``word_ngrams``
    output never does). A null would count toward the total and as one
    distinct value."""
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(total > 0, F.lit(1.0) - distinct / total.cast("double")).otherwise(F.lit(0.0))


def dup_ngram_fraction(col: Column, n: int = 2) -> Column:
    """Gopher-style repetition signal: fraction of n-gram occurrences
    that repeat an earlier one (1 - distinct/total; 0 for <n tokens)."""
    return dup_ngram_fraction_of(word_ngrams(col, n))


def top_ngram_fraction(col: Column, n: int = 2) -> Column:
    """Fraction of n-gram occurrences taken by the single most frequent
    n-gram (boilerplate/loop detector).

    Max multiplicity = longest run of equal elements in the SORTED gram
    array: one array_sort + one linear fold (r13). The previous form
    counted every distinct gram with its own filter() pass --
    O(distinct x total) interpreted higher-order-function evaluations
    per row (HOFs are not whole-stage-codegen'd), measured 245 s for
    the 5k-doc sf0.1 corpus vs ~2 s for this fold. The max count is the
    same exact integer either way, so the double division is
    bit-identical (pinned by test_top_ngram_fraction_sorted_fold_matches_counting)."""
    return top_ngram_fraction_of(word_ngrams(col, n))


def top_ngram_fraction_of(grams: Column) -> Column:
    """`top_ngram_fraction` over an already-built gram array column
    (see dup_ngram_fraction_of for why callers should share the array).

    Precondition: ``grams`` holds no null elements (``word_ngrams``
    output never does). The run-length fold starts a new run of 1 at
    each null, so a null-only array would report 1/total where counting
    non-null grams reports 0."""
    total = F.size(grams)
    # fold state: (prev gram, current run length, best run length);
    # grams are non-null (concat of non-null tokens), so `g == prev` is
    # null -> false only for the first element, which correctly
    # restarts the run at 1
    best = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.when(total > 0, best.cast("double") / total.cast("double")).otherwise(F.lit(0.0))


# PII patterns -- restricted to syntax Java regex and RE2 (DuckDB) parse
# identically, so oracles can re-state them verbatim
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}"
PII_PHONE = r"\+[0-9]{7,15}"


def pii_counts(col: Column) -> Column:
    """Struct of match counts per PII class (detection tier: cheap codegen
    regex scan; route docs with hits to the masking/review tier)."""
    return F.struct(
        F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL), 0)).alias("n_email"),
        F.size(F.regexp_extract_all(col, F.lit(PII_IPV4), 0)).alias("n_ipv4"),
        F.size(F.regexp_extract_all(col, F.lit(PII_PHONE), 0)).alias("n_phone"),
    )


def pii_mask(col: Column) -> Column:
    """Masking tier: replace each PII class with a typed placeholder.
    Order matters: emails first (an email contains dot-runs an IPv4-ish
    pattern could nibble)."""
    masked = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    masked = F.regexp_replace(masked, PII_IPV4, "<IP>")
    return F.regexp_replace(masked, PII_PHONE, "<PHONE>")
