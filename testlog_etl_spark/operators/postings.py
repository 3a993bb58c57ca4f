"""Inverted-index (postings) construction: term -> sorted doc-id list
with corpus statistics, plus a per-source quantile-threshold filter.

Postings are the backbone of exact-match decontamination and corpus
search: build once, then membership checks against eval sets are a
semi-join on term instead of a corpus rescan.

Scale shape:
- ``build_postings`` is explode -> ONE partial-aggregated shuffle keyed
  by term. Map-side combine collapses within-document repeats before the
  shuffle, so what moves is bounded by distinct (term, doc) pairs.
- Stopword-grade terms produce postings proportional to the corpus
  (every doc contains "the"); an uncapped collect would concentrate a
  near-full doc-id list on single reducers. ``max_df`` drops terms whose
  document frequency exceeds the cap BEFORE list materialization --
  exactly the stopword cutoff real IR systems apply -- so no reducer
  ever builds an unbounded list. The df counts themselves come from the
  same single aggregation.
- ``quantile_threshold_filter`` computes per-group score quantiles (one
  tiny thresholds frame, exact `percentile`) and broadcast-joins them
  back: corpus is scanned twice but shuffled never.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def build_postings(
    docs: DataFrame,
    id_col: str,
    terms: Column,
    max_df: int | None = None,
) -> DataFrame:
    """Inverted index: one row per surviving term with
    (df = document frequency, tf = total occurrences, postings = sorted
    distinct doc ids). ``max_df`` is the stopword cutoff: terms present
    in more documents carry no selectivity and would otherwise send a
    corpus-sized list through one reducer."""
    pairs = docs.select(F.col(id_col).alias("_doc"), F.explode(terms).alias("term"))
    # one shuffle: partial counts + partial distinct-accumulation per term
    agg = pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct("_doc").alias("df"),
        F.array_sort(F.collect_set("_doc")).alias("postings"),
    )
    if max_df is not None:
        agg = agg.filter(F.col("df") <= max_df)
    return agg


def quantile_threshold_filter(
    df: DataFrame,
    group_col: str,
    score: Column,
    quantile: float,
    keep: str = "upper",
) -> DataFrame:
    """Keep rows whose score clears their group's ``quantile`` threshold
    ("top 20% quality per source" style gates). Thresholds come from
    the rank-selection quantile (``operators/scan_quantile.py`` --
    rollup-sized exchanges, no per-group buffer concentration; the
    exact ``percentile`` aggregate used before r09 buffered every
    group score in its partial state, which is the group itself at
    100 TB even though the RESULT frame is bounded). One threshold row
    per group -- bounded by group cardinality, hence broadcastable; the
    corpus side is filtered with zero extra shuffles."""
    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact

    scored = df.withColumn("_score", score)
    thresholds = group_quantiles_exact(
        scored.select(group_col, "_score"), group_col, "_score", [quantile], ["_thr"]
    )
    cond = F.col("_score") >= F.col("_thr") if keep == "upper" else F.col("_score") <= F.col("_thr")
    return (
        scored.join(F.broadcast(thresholds), group_col)
        .filter(cond)
        .drop("_thr")
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    terms: Column,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval for one query against the corpus (Lucene's
    BM25+1 idf: ln(1 + (N - df + 0.5)/(df + 0.5))), built as:

    - per-doc length + per-(doc, query-term) tf in ONE pass over the
      exploded terms, pre-filtered to the query's terms -- the explode
      collapses to |Q| rows per doc before the shuffle, so what moves is
      bounded by |Q| * n_docs, not corpus tokens;
    - N, avg doc length, and per-term df ride broadcast 1-row/|Q|-row
      aggregates (never a driver action);
    - the final score is a per-doc sum of <= |Q| term contributions,
      ranked by the ROUNDED score with doc-id ties so the top-k cut is
      deterministic cross-engine (tiny-sum addition order differs).

    At scale this is the scatter-gather any search engine does, with the
    posting scan expressed as a filtered explode; for repeated queries
    build_postings amortizes the explode into a term-keyed index.
    """
    q = F.array(*[F.lit(t) for t in query_terms])
    base = docs.select(F.col(id_col).alias("_doc"), terms.alias("_terms")).select(
        "_doc", "_terms", F.size("_terms").alias("_len")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("_n_docs"), F.avg("_len").alias("_avg_len")
    )
    hits = (
        base.select("_doc", "_len", F.explode(F.filter("_terms", lambda t: F.array_contains(q, t))).alias("term"))
        .groupBy("_doc", "_len", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = hits.groupBy("term").agg(F.count_distinct("_doc").alias("_df"))
    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_contrib",
            F.col("_idf")
            * (F.col("_tf") * (k1 + 1))
            / (F.col("_tf") + F.lit(k1) * (1 - b + b * F.col("_len") / F.col("_avg_len"))),
        )
        .groupBy("_doc")
        .agg(F.round(F.sum("_contrib"), 4).alias("score"), F.count(F.lit(1)).alias("n_terms"))
    )
    from pyspark.sql import Window

    # TakeOrderedAndProject first (no global single-partition window over
    # the corpus); the rank window then runs over k rows only
    topk = scored.orderBy(F.col("score").desc(), F.col("_doc")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("_doc"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        F.col("_doc").alias(id_col), "score", "n_terms", "rank"
    )


def phrase_search(
    docs: DataFrame,
    id_col: str,
    terms: Column,
    phrase: list[str],
) -> DataFrame:
    """Exact phrase search without an index rescan: every phrase term's
    occurrence is reduced to its ALIGNED ANCHOR (position - term offset
    in the phrase), so a phrase match is an equi-join of the per-term
    anchor sets on (doc, anchor) -- one hash join per phrase term, no
    window, no per-doc sequential scan. Returns (id_col, n_matches)
    with one count per doc containing the phrase at least once.

    Scale shape: the per-term filter runs on the exploded frame BEFORE
    any exchange, so only occurrences of the |phrase| query terms move
    -- the join inputs are term-selectivity-sized, never corpus-sized.
    (Stopword-heavy phrase terms inherit the postings max_df caveat:
    their anchor sets are corpus-proportional; cap or pre-prune via the
    postings df stats.) Positions are flattened at explode time; no
    positional lists are materialized per term, so no reducer builds an
    unbounded array."""
    if not phrase:
        raise ValueError("phrase_search: phrase must be non-empty")
    pos = docs.select(
        F.col(id_col).alias("_doc"), F.posexplode(terms).alias("_p", "_term")
    )
    # ONE (doc, anchor) shuffle instead of a |phrase|-way join chain
    # (r12, guide 2.4): each occurrence of a phrase term emits (anchor =
    # position - slot, slot) for every slot that term fills in the
    # phrase, and an anchor is a match iff all |phrase| distinct slots
    # arrive -- the same anchor-alignment argument as the join form
    # (positions are unique per doc, so each (doc, anchor, slot) arrives
    # at most once), with the per-term occurrence volume shuffled once
    # rather than once per join input.
    slot_map: dict[str, list[int]] = {}
    for i, term in enumerate(phrase):
        slot_map.setdefault(term, []).append(i)
    slots = None
    for term, offs in slot_map.items():
        arr = F.array(*[F.lit(int(i)) for i in offs])
        slots = F.when(F.col("_term") == term, arr) if slots is None else slots.when(
            F.col("_term") == term, arr
        )
    anch = (
        pos.filter(F.col("_term").isin(list(slot_map)))
        .select("_doc", "_p", F.explode(slots).alias("_i"))
        .select("_doc", (F.col("_p") - F.col("_i")).alias("_anchor"), "_i")
    )
    # slot-presence BITMASK instead of count_distinct (r13): an anchor
    # matches iff all |phrase| slots arrived, i.e. bit_or of 1<<slot
    # equals the full mask. bit_or is a plain partial-aggregable
    # function, so the two-phase distinct aggregate (and its extra
    # exchange over the expanded (doc, anchor, slot) grain) disappears;
    # idempotent under re-delivery for free. |phrase| <= 62 guards the
    # long mask -- far above any realistic phrase.
    if len(phrase) > 62:
        raise ValueError("phrase_search supports phrases up to 62 terms")
    full_mask = (1 << len(phrase)) - 1
    return (
        anch.groupBy("_doc", "_anchor")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), _i)")).alias("_mask"))
        .filter(F.col("_mask") == F.lit(full_mask))
        .groupBy(F.col("_doc").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


def rrf_fusion(
    rankings: list[DataFrame], id_col: str, c: int = 60, k: int = 10
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack & Clarke, SIGIR'09): fuse N
    ranked lists into one by rrf(d) = sum over lists of 1/(c + rank_d),
    items missing from a list contributing 0. Each input DataFrame
    carries (id_col, rank).

    Determinism: each contribution is ONE double division on integer
    inputs and the fused score a sum of <= N such terms -- rounded at
    presentation, ranked with id tiebreak, so engines can't disagree.
    Scale shape: the inputs are already top-k' lists (bounded), so the
    N-way full-outer join chain and the final rank window run on
    k'-bounded frames, never corpus-sized data.
    """
    from functools import reduce

    from pyspark.sql import Window

    parts = [
        r.select(
            F.col(id_col),
            F.col("rank").cast("int").alias(f"rank_{i}"),
            (F.lit(1.0) / (F.lit(c) + F.col("rank"))).alias(f"_c{i}"),
        )
        for i, r in enumerate(rankings)
    ]
    fused = reduce(lambda a, b: a.join(b, id_col, "full_outer"), parts)
    score = reduce(
        lambda a, b: a + b,
        [F.coalesce(F.col(f"_c{i}"), F.lit(0.0)) for i in range(len(parts))],
    )
    scored = fused.withColumn("rrf", F.round(score, 6))
    topk = scored.orderBy(F.col("rrf").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("rrf").desc(), F.col(id_col))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        id_col, *[f"rank_{i}" for i in range(len(parts))], "rrf", "rank"
    )
