"""Composite document-filter pipeline: the C4/Gopher-style quality gate
that sits in front of every training-data corpus build.

A filter pipeline is an ORDERED list of (rule_name, fails_predicate)
pairs; a document's verdict is the FIRST failing rule's name, else
``'keep'``. Ordering matters operationally: drop-reason histograms are
how pipeline owners tune thresholds, and a doc failing both "too_short"
and "repetitive" must count under exactly one bucket to keep the
histogram additive.

Scale shape: every rule is a pure Column expression over the text
(token/stopword/repetition signals from operators/textstats.py), so the
whole verdict computes inside the scan's WholeStageCodegen -- zero
shuffles, zero UDFs; the only shuffle is whatever aggregation the
caller puts on top. At 100 TB this is the ideal filter shape: one pass,
predicate-pushdown-friendly, and the verdict column is itself a cheap
partition key for routing kept/dropped docs to different sinks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from testlog_etl_spark.operators import textstats


def default_rules(col: Column) -> list[tuple[str, Column]]:
    """The stock quality gate (thresholds tuned on the synthetic corpus
    so every rule fires on real rows; production would sweep these).

    Every signal here is an exact integer-ratio double (hits/n), so the
    threshold comparisons are bit-identical across engines -- the DuckDB
    oracle restates them verbatim.
    """
    return [
        # null text would null out every signal below and fall through to
        # 'keep' (CASE treats null conditions as false) -- catch it first
        ("missing", col.isNull()),
        ("too_short", textstats.token_count(col) < 25),
        ("low_stopword", textstats.stopword_ratio(col) < 0.02),
        ("repetitive", textstats.dup_ngram_fraction(col, 2) > 0.05),
        ("bad_shape", ~textstats.mean_token_len(col).between(2.0, 9.0)),
    ]


def filter_verdict(col: Column, rules: list[tuple[str, Column]] | None = None) -> Column:
    """First failing rule's name, else 'keep' (a single chained CASE)."""
    if rules is None:
        rules = default_rules(col)
    out = F.lit("keep")
    # build inside-out so the FIRST rule ends up outermost (first match wins)
    for name, fails in reversed(rules):
        out = F.when(fails, F.lit(name)).otherwise(out)
    return out


# literal weights for the linear quality model: a stand-in for the
# model-based filtering stage (FineWeb-Edu-style classifier inference)
# with the MODEL made deterministic -- the Spark-side plumbing (feature
# extraction in scan codegen, scoring as arithmetic, threshold routing)
# is exactly what a real exported linear/logistic model needs.
MODEL_WEIGHTS = {
    "bias": -2.0,
    "log_tokens": 0.55,
    "type_token_ratio": 1.2,
    "stopword_ratio": 4.0,
    "mean_token_len": 0.12,
}


def linear_quality_score(text: Column) -> Column:
    """Logistic score over engineered features, all codegen'd per row:
    sigmoid(w . [1, ln(1+n_tokens), distinct/total tokens,
    stopword_ratio, mean_token_len]). The expression tree fixes the
    evaluation order, so the score is bit-portable across engines up to
    libm exp() ulps -- callers round before comparing engines."""
    from testlog_etl_spark.operators import textstats

    toks = textstats.tokens(text)
    n = F.greatest(F.size(toks), F.lit(1))
    w = MODEL_WEIGHTS
    z = (
        F.lit(w["bias"])
        + F.lit(w["log_tokens"]) * F.log(F.lit(1.0) + F.size(toks))
        + F.lit(w["type_token_ratio"]) * (F.size(F.array_distinct(toks)) / n)
        + F.lit(w["stopword_ratio"]) * textstats.stopword_ratio(text)
        + F.lit(w["mean_token_len"]) * textstats.mean_token_len(text)
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
