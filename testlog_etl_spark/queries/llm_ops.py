"""Oracle-paired LLM-training-data operators (the north star set):
dedup (exact / MinHash-LSH / n-gram Jaccard / SimHash / embedding
cosine), similarity search (brute-force + IVF), text analysis
(quality, lang-ID, token counts), multimodal plumbing.

Oracle strategy: the DuckDB twin states the SEMANTIC CONTRACT (exact
pairwise O(n^2) SQL), while the Spark side uses the scalable algorithm
(LSH banding, IVF probes). Where the algorithm is intrinsically
approximate-with-engine-specific-hashes (SimHash bits, IVF recall),
there is no SQL twin; tests/test_llm_ops.py pins behavior instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from testlog_etl_spark import oracles as osql
from testlog_etl_spark.oracles import quality_z_sql as _quality_z_sql
from testlog_etl_spark.operators import multimodal, neardup, sampling, similarity, textstats
from testlog_etl_spark.suite import register
from testlog_etl_spark.tables import load_tables

R = 4

# DuckDB-side distinct 3-word shingles (list comprehension over tokens)
_DUCK_SHINGLES = "list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])"

# The ONE DuckDB spelling of textstats.lang_id: same \s+ trimmed
# empty-free tokenization as tokens(), same 0.03 floor and tie-break
# order, NULL text -> 'und'. Shared by text_langid (confusion matrix)
# and eval_langid_metrics (metrics readout) so the two oracles can
# never model different predictors.
_LANGID_PRED_SQL = """
WITH tok AS (
  SELECT lang, text IS NULL AS no_text,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '') AS lt
  FROM documents
),
s AS (
  SELECT lang, no_text,
    len(list_filter(lt, t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], t)))::DOUBLE
      / greatest(len(lt), 1) AS r_en,
    len(list_filter(lt, t -> list_contains(['le','la','et','de','un','une','est','pour','dans','avec'], t)))::DOUBLE
      / greatest(len(lt), 1) AS r_fr,
    len(list_filter(lt, t -> list_contains(['der','die','das','und','ist','ein','eine','mit','von','zu'], t)))::DOUBLE
      / greatest(len(lt), 1) AS r_de,
    len(list_filter(lt, t -> list_contains(['el','la','y','de','un','una','es','para','en','con'], t)))::DOUBLE
      / greatest(len(lt), 1) AS r_es
  FROM tok
),
p AS (
  SELECT lang,
    CASE WHEN no_text THEN 'und'
         WHEN greatest(r_en, r_fr, r_de, r_es) < 0.03 THEN 'und'
         WHEN r_en = greatest(r_en, r_fr, r_de, r_es) THEN 'en'
         WHEN r_fr = greatest(r_en, r_fr, r_de, r_es) THEN 'fr'
         WHEN r_de = greatest(r_en, r_fr, r_de, r_es) THEN 'de'
         ELSE 'es' END AS predicted
  FROM s
)
"""



def _simhash_oracle() -> str:
    """DuckDB twin of neardup.simhash64 + pigeonhole pair search, exact
    to the bit: per-token XXH64 via the generated SQL expression
    (oracles.xxh64_unsigned_sql, bit-identical to F.xxhash64), then the
    64 sign-votes as Python-unrolled CASE terms (vote for bit k is
    positive iff 2*|{tokens with bit k set}| > |tokens|), then an exact
    O(n^2) Hamming<=3 pair scan -- the contract the chunked equi-join
    blocking must reproduce."""
    hash_expr = osql.xxh64_unsigned_sql("__t")
    terms = []
    for bit in range(64):
        mask = -(1 << 63) if bit == 63 else (1 << bit)
        mask_sql = "(-9223372036854775807 - 1)" if bit == 63 else str(mask)
        terms.append(
            f"CASE WHEN 2 * len(list_filter(us, __u -> __u // {1 << bit} % 2 = 1)) > len(us) "
            f"THEN {mask_sql}::BIGINT ELSE 0 END"
        )
    sig = "(" + " + ".join(terms) + ")::BIGINT"
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), __t -> __t != '') AS toks
  FROM documents
),
h AS (SELECT doc_id, [{hash_expr} for __t in toks] AS us FROM t),
sig AS (SELECT doc_id, {sig} AS sig FROM h)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sig, b.sig))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
ORDER BY id_a, id_b
"""


@register(
    "dedup_exact",
    doc="exact dedup tier: normalized-text fingerprint; unique counts "
    "per source (xxhash64 fingerprint == distinct normalized text, "
    "collision-free at this size).",
    oracle="""
SELECT source, count(*) AS n_docs,
       count(DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS n_unique
FROM documents
GROUP BY source
ORDER BY source
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(textstats.fingerprint(F.col("text"))).alias("n_unique"),
        )
        .orderBy("source")
    )


@register(
    "dedup_minhash_lsh",
    doc="MinHash+LSH near-dup: 128 hashes, 64 bands x 2 rows, exact "
    "Jaccard verify at 0.5 -- the oracle is the O(n^2) exact pair scan "
    "the LSH replaces (miss prob at j>=0.8: ~4e-29).",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
d AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.sh,b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh,b.sh))), {R}) AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh,b.sh))::DOUBLE /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh,b.sh))) >= 0.5
ORDER BY id_a, id_b
""",
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = neardup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", R).alias("jaccard")).orderBy("id_a", "id_b")


@register(
    "dedup_containment",
    doc="asymmetric shingle CONTAINMENT tier: C(A in B) = |A∩B| / |A| "
    "-- catches a short doc quoted/embedded inside a long one, which "
    "symmetric Jaccard structurally misses (the union term drowns the "
    "small side). One row per (contained, container) ordered pair at "
    "C >= 0.8 with |A| >= 3 shingles (degenerate tiny docs excluded on "
    "both engines). Candidates come from the lossless PPJoin prefix "
    "filter (operators/neardup.py::containment_pairs_prefix_filtered, "
    "the candidate step dedup_ngram_jaccard uses), not a pair scan; "
    "dedup_containment_postings is the postings-join tier with a "
    "df <= 64 boilerplate cap.",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
d AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t)
SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       ROUND(len(list_intersect(a.sh,b.sh))::DOUBLE / len(a.sh), {R}) AS containment
FROM d a JOIN d b ON a.doc_id <> b.doc_id
WHERE len(a.sh) >= 3
  AND len(list_intersect(a.sh,b.sh))::DOUBLE / len(a.sh) >= 0.8
ORDER BY contained_id, container_id
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the operator persists its (id, shingles) projection; the cache lives
    # until the session's clearCache() (bench.py clears between queries)
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    d = docs.select("doc_id", neardup.word_shingles(F.col("text")).alias("sh"))
    # filtering the container side too is exact: C >= 0.8 > 2/3 with
    # |A| >= 3 forces |A∩B| >= 3, so |B| >= 3
    d = d.filter(F.size("sh") >= 3)
    pairs = neardup.containment_pairs_prefix_filtered(d, "doc_id", "sh", 0.8)
    return pairs.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        F.round("containment", R).alias("containment"),
    ).orderBy("contained_id", "container_id")


_JACCARD_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
d AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.sh,b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh,b.sh))), {R}) AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh,b.sh))::DOUBLE /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh,b.sh))) >= 0.5
ORDER BY id_a, id_b
"""


@register(
    "dedup_jaccard_prefixfilter",
    doc="n-gram Jaccard pairs via PPJoin-style prefix filtering "
    "(operators/neardup.py::jaccard_pairs_prefix_filtered): "
    "rarest-first token prefixes of length n - ceil(t*n) + 1 joined "
    "against the full posting list, then exact verify. Every shuffle is "
    "linear in token volume; the oracle is the brute-force all-pairs "
    "SQL, so the oracle compare proves the filter is lossless. Same "
    "function as dedup_ngram_jaccard.",
    oracle=_JACCARD_ORACLE,
)
@register(
    "dedup_ngram_jaccard",
    doc="exact n-gram Jaccard tier: all doc pairs with exact 3-shingle "
    "Jaccard >= 0.5, the contract the oracle's all-pairs scan states. "
    "Candidates come from the lossless PPJoin prefix filter, not a pair "
    "scan (same function as dedup_jaccard_prefixfilter).",
    oracle=_JACCARD_ORACLE,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the operator persists its (id, shingles) projection; the cache lives
    # until the session's clearCache() (bench.py clears between queries)
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    d = docs.select("doc_id", neardup.word_shingles(F.col("text")).alias("sh"))
    pairs = neardup.jaccard_pairs_prefix_filtered(d, "doc_id", "sh", 0.5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", R).alias("jaccard")
    ).orderBy("id_a", "id_b")


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc="SimHash near-dup tier: 64-bit signatures, pigeonhole-blocked "
    "Hamming<=3 pairs. Exactly oracled since r04: the DuckDB twin "
    "recomputes the bit-identical signatures via a generated SQL XXH64 "
    "(testlog_etl_spark/oracles.py) and does the O(n^2) Hamming scan "
    "the blocking must reproduce; bit-level invariants additionally "
    "pinned in tests/test_llm_ops.py.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return neardup.simhash_pairs(docs, "doc_id", "text", max_hamming=3).orderBy("id_a", "id_b")


@register(
    "dedup_embedding_cosine",
    doc="embedding-cosine near-dup tier: exact pair scan at tau=0.45 "
    "(double math on both engines).",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), {R}) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
ORDER BY id_a, id_b
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.util import spread

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # r13: norms precomputed per SIDE, not per PAIR -- cosine(a, b) is
    # dot/(|a|*|b|), and evaluating the two norm folds inside the O(n^2)
    # pair loop redid each one n times (the same rule topk_cosine has
    # always followed). cos stays bit-identical: dot/(_na*_nb) is the
    # exact operation tree similarity.cosine produced, with the norm
    # subtrees evaluated once per row instead of once per pair. spread()
    # parallelizes the pair scan's stream side (single-file local scan =
    # one partition = serial BNL loop). Measured 116.7 -> 2.1 s at sf0.1.
    a = spread(
        emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    ).withColumn("_na", similarity.l2_norm(F.col("va")))
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb")
    ).withColumn("_nb", similarity.l2_norm(F.col("vb")))
    cos = similarity.dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
    # the threshold filter is stated as when(id_a < id_b, cos >= tau,
    # else false) so the id test structurally short-circuits the dot
    # fold: pushed as a bare AND, Catalyst orders the expensive
    # predicate FIRST in the BNL condition and the fold runs for all
    # n^2 ordered pairs (observed in the plan), not the n^2/2 kept ones.
    # The forced broadcast ships the WHOLE embeddings side to every
    # executor: fine at sf0.1, but this is the last nested-loop pair
    # scan on the execution path, and at larger scale factors the build
    # side outgrows the broadcast size limit.
    return (
        a.join(F.broadcast(b), F.when(F.col("id_a") < F.col("id_b"), cos >= 0.45).otherwise(F.lit(False)))
        .withColumn("cos", cos)
        .select("id_a", "id_b", F.round("cos", R).alias("cos"))
        .orderBy("id_a", "id_b")
    )


@register(
    "sim_topk_cosine",
    doc="similarity-search baseline: exact brute-force cosine top-5 for "
    "20 query vectors (broadcast queries over one corpus scan).",
    oracle=f"""
SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), {R}) AS cos,
       rank
FROM (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                    c.vec_id
         ) AS rank
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
) r
JOIN embeddings q ON q.vec_id = r.qid
JOIN embeddings c ON c.vec_id = r.cid
WHERE rank <= 5
ORDER BY q_id, rank
""",
    bench=True,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.topk_cosine(queries, corpus, k=5)
    return out.select("q_id", "c_id", F.round("cosine", R).alias("cos"), "rank").orderBy("q_id", "rank")


def _ivf_topk_oracle(
    dim: int = 64, k_cells: int = 8, n_iter: int = 3, nprobe: int = 3, k: int = 5, qbits: int = 20
) -> str:
    """DuckDB twin of kmeans_fit + ivf_topk, exact since r04: Lloyd's is
    deterministic up to the addition ORDER of the update-step mean, and
    centroid_quant_bits snaps every centroid to the 2^-20 binary grid
    (floor(x*2^20+0.5)/2^20 -- exact scaling, half-up floor) on BOTH
    engines, absorbing that last ulp. The twin replays init (k smallest
    ids), each assignment (argmin by (sq_dist, cell) -- the same
    tie-break as _argmin_cell's strict-< fold), each snapped mean
    update with empty-cell carry-over, the nprobe probe ranking, and
    the fold-ordered cosines. n_iter chained CTE blocks: iterative
    dataflow restated as a static pipeline, the sim_topk_int8 playbook
    applied to an iterative algorithm."""
    g = float(1 << qbits)

    def snap(x: str) -> str:
        return f"floor(({x}) * {g} + 0.5) / {g}"

    def sqdist(a: str, b: str) -> str:
        return (
            f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
            f"__i -> ({a}[__i] - {b}[__i]) * ({a}[__i] - {b}[__i]))), (__a, __x) -> __a + __x)"
        )

    def dotp(a: str, b: str) -> str:
        return (
            f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
            f"__i -> {a}[__i] * {b}[__i])), (__a, __x) -> __a + __x)"
        )

    def norm(vec: str) -> str:
        return (
            f"sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform({vec}, __e -> __e * __e)), "
            f"(__a, __x) -> __a + __x))"
        )

    blocks = [
        f"""v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(vec, __x -> {snap('__x')}) AS centroid
  FROM (SELECT vec_id, vec FROM v ORDER BY vec_id LIMIT {k_cells})
)"""
    ]
    for i in range(1, n_iter + 1):
        prev = f"c{i - 1}"
        blocks.append(
            f"""a{i} AS (
  SELECT vec_id, vec, cell FROM (
    SELECT v.vec_id, v.vec, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {sqdist('v.vec', 'c.centroid')}, c.cell) AS rn
    FROM v CROSS JOIN {prev} c
  ) WHERE rn = 1
),
u{i} AS (
  SELECT cell, array_agg(m ORDER BY idx) AS centroid FROM (
    SELECT cell, idx, {snap('AVG(val)')} AS m FROM (
      SELECT cell, unnest(vec) AS val, unnest(range(1, {dim + 1})) AS idx FROM a{i}
    ) GROUP BY cell, idx
  ) GROUP BY cell
),
c{i} AS (
  SELECT p.cell, COALESCE(u{i}.centroid, p.centroid) AS centroid
  FROM {prev} p LEFT JOIN u{i} ON p.cell = u{i}.cell
)"""
        )
    final = f"c{n_iter}"
    blocks.append(
        f"""cells AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {sqdist('v.vec', 'c.centroid')}, c.cell) AS rn
    FROM v CROSS JOIN {final} c
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {sqdist('v.vec', 'c.centroid')}, c.cell) AS rn
    FROM v CROSS JOIN {final} c WHERE v.vec_id < 20
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.q_id, s.vec_id AS c_id,
         {dotp('qv.vec', 'cv.vec')} / ({norm('qv.vec')} * {norm('cv.vec')}) AS cosine
  FROM probes p
  JOIN cells s ON s.cell = p.cell AND s.vec_id <> p.q_id
  JOIN v qv ON qv.vec_id = p.q_id
  JOIN v cv ON cv.vec_id = s.vec_id
),
ranked AS (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM scored
)"""
    )
    body = ",\n".join(blocks)
    return f"""
WITH {body}
SELECT q_id, c_id, ROUND(cosine, {R}) AS cos, rank
FROM ranked WHERE rank <= {k}
ORDER BY q_id, rank
"""


@register(
    "sim_ivf_topk",
    oracle=_ivf_topk_oracle(),
    doc="IVF approximate top-k: k-means(8 cells, 3 iters, grid-snapped "
    "centroids) coarse quantizer, nprobe=3. Exactly oracled since r04: "
    "centroid_quant_bits=20 makes Lloyd's engine-portable (see "
    "_ivf_topk_oracle), so the DuckDB twin replays the identical "
    "iterations; recall vs brute force additionally pinned in tests.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cents = similarity.kmeans_fit(
        emb, "embedding", k=8, n_iter=3, id_col="vec_id", centroid_quant_bits=20
    )
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.ivf_topk(queries, corpus, cents, k=5, nprobe=3)
    return out.select("q_id", "c_id", F.round("cosine", R).alias("cos"), "rank").orderBy("q_id", "rank")


def _duck_plane_lit(p: list[float]) -> str:
    return "[" + ",".join("1.0" if x > 0 else "-1.0" for x in p) + "]"


def _duck_dot_plane(vec: str, p: list[float], dim: int) -> str:
    return (
        f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
        f"__i -> {vec}[__i] * ({_duck_plane_lit(p)}::DOUBLE[])[__i])), (__a, __x) -> __a + __x)"
    )


def _duck_sig_expr(planes: list[list[float]], t: int, n_bits: int, vec: str, dim: int) -> str:
    bits = [
        f"CASE WHEN {_duck_dot_plane(vec, planes[t * n_bits + b], dim)} >= 0.0 THEN {1 << b} ELSE 0 END"
        for b in range(n_bits)
    ]
    return "(" + " + ".join(bits) + ")::BIGINT"


def _duck_norm(vec: str) -> str:
    return (
        f"sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform({vec}, __e -> __e * __e)), "
        f"(__a, __x) -> __a + __x))"
    )


def _duck_dot(a: str, b: str, dim: int) -> str:
    return (
        f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
        f"__i -> {a}[__i] * {b}[__i])), (__a, __x) -> __a + __x)"
    )


def _lsh_topk_oracle(dim: int = 64, n_tables: int = 8, n_bits: int = 4, k: int = 5) -> str:
    """DuckDB twin of similarity.lsh_topk, exact: the hyperplanes are
    deterministic literals (rademacher_planes, md5-seeded), so the
    oracle renders the SAME planes into SQL and recomputes signatures,
    buckets, candidates, and cosines. Float discipline: dots and norms
    are sequential left folds in array order on BOTH engines (Spark
    aggregate/zip_with vs generated reduce), so sign decisions at the
    >= 0 boundary and the pre-round rank ordering agree bit-for-bit."""
    planes = similarity.rademacher_planes(42, n_tables * n_bits, dim)
    sigs = "[" + ", ".join(_duck_sig_expr(planes, t, n_bits, "vec", dim) for t in range(n_tables)) + "]"
    dot_vv = _duck_dot("qv.vec", "cv.vec", dim)
    norm = _duck_norm

    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
s AS (SELECT vec_id, vec, {sigs} AS sigs FROM v),
b AS (
  SELECT vec_id, t, sigs[t + 1] AS sig
  FROM s, (SELECT unnest(range(0, {n_tables})) AS t) tt
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM b q JOIN b c ON q.t = c.t AND q.sig = c.sig AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
),
scored AS (
  SELECT cand.q_id, cand.c_id,
         {dot_vv} / ({norm('qv.vec')} * {norm('cv.vec')}) AS cosine
  FROM cand
  JOIN v qv ON qv.vec_id = cand.q_id
  JOIN v cv ON cv.vec_id = cand.c_id
),
ranked AS (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM scored
)
SELECT q_id, c_id, ROUND(cosine, {R}) AS cos, rank
FROM ranked WHERE rank <= {k}
ORDER BY q_id, rank
"""


@register(
    "sim_lsh_topk",
    oracle=_lsh_topk_oracle(),
    bench=True,
    doc="LSH-bucketed approximate top-k: random-hyperplane signatures, "
    "8 tables x 4 bits, candidates meet only inside matching buckets "
    "(equi-join, no crossJoin). Exactly oracled since r04: the planes "
    "are deterministic literals, so the DuckDB twin recomputes the "
    "identical buckets and cosines; recall vs brute force additionally "
    "pinned in golden tests.",
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.lsh_topk(queries, corpus, k=5, dim=64, n_tables=8, n_bits=4)
    return out.select("q_id", "c_id", F.round("cosine", R).alias("cos"), "rank").orderBy("q_id", "rank")


def _ann_recall_oracle(dim: int = 64, n_tables: int = 8, n_bits: int = 4, k: int = 5) -> str:
    """DuckDB twin of eval_ann_recall: recomputes BOTH rankings exactly --
    the brute-force top-k (ground truth) and the sign-LSH top-k (the
    same literal-plane replay as _lsh_topk_oracle) -- and joins them for
    per-query hit counts. Exact because cosines are identical left folds
    on both engines and ties break on c_id in both rankings."""
    planes = similarity.rademacher_planes(42, n_tables * n_bits, dim)
    sigs = "[" + ", ".join(_duck_sig_expr(planes, t, n_bits, "vec", dim) for t in range(n_tables)) + "]"
    dot_vv = _duck_dot("qv.vec", "cv.vec", dim)

    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
s AS (SELECT vec_id, vec, {sigs} AS sigs FROM v),
b AS (
  SELECT vec_id, t, sigs[t + 1] AS sig
  FROM s, (SELECT unnest(range(0, {n_tables})) AS t) tt
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
  FROM b q JOIN b c ON q.t = c.t AND q.sig = c.sig AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
),
lsh_scored AS (
  SELECT cand.q_id, cand.c_id,
         {dot_vv} / ({_duck_norm('qv.vec')} * {_duck_norm('cv.vec')}) AS cosine
  FROM cand
  JOIN v qv ON qv.vec_id = cand.q_id
  JOIN v cv ON cv.vec_id = cand.c_id
),
lsh AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS r
    FROM lsh_scored
  ) WHERE r <= {k}
),
brute_scored AS (
  SELECT qv.vec_id AS q_id, cv.vec_id AS c_id,
         {dot_vv} / ({_duck_norm('qv.vec')} * {_duck_norm('cv.vec')}) AS cosine
  FROM v qv JOIN v cv ON cv.vec_id <> qv.vec_id
  WHERE qv.vec_id < 20
),
brute AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS r
    FROM brute_scored
  ) WHERE r <= {k}
)
SELECT br.q_id,
       count(*) AS n_true,
       CAST(SUM(CASE WHEN l.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN l.c_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS recall
FROM brute br LEFT JOIN lsh l ON l.q_id = br.q_id AND l.c_id = br.c_id
GROUP BY br.q_id
ORDER BY br.q_id
"""


@register(
    "eval_ann_recall",
    oracle=_ann_recall_oracle(),
    doc="ANN quality evaluation: recall@5 of the sign-LSH tier against "
    "the exact brute-force top-5, per query -- the measurement a "
    "pipeline owner runs before trading recall for the LSH cost "
    "profile (tables x bits are the dial; SCALE.md ANN row). Exactly "
    "oracled: BOTH rankings replay in DuckDB from the same literal "
    "planes and fold-ordered cosines. Plan shape: one corpus scan per "
    "ranking, the truth><approx join is on (q_id, c_id) keys only.",
)
def eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    truth = similarity.topk_cosine(queries, corpus, k=5).select("q_id", "c_id")
    approx = similarity.lsh_topk(queries, corpus, k=5, dim=64, n_tables=8, n_bits=4).select(
        "q_id", "c_id", F.lit(1).alias("_hit")
    )
    return (
        truth.join(approx, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double") / F.count(F.lit(1)), 4
            ).alias("recall"),
        )
        .orderBy("q_id")
    )


@register(
    "text_quality",
    doc="quality scoring: per-source doc counts and mean quality score "
    "(identical arithmetic spelled on both engines).",
    oracle="""
WITH q AS (
  SELECT source,
    len(string_split(trim(text), ' ')) AS n_tokens,
    list_sum(list_transform(string_split(trim(text), ' '), t -> length(t)))::DOUBLE
      / greatest(len(string_split(trim(text), ' ')), 1) AS mean_tok,
    len(list_filter(string_split(lower(text), ' '),
        t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], t)))::DOUBLE
      / greatest(len(string_split(lower(text), ' ')), 1) AS stop_ratio,
    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
      / greatest(length(text), 1) AS punct_ratio
  FROM documents
)
SELECT source, count(*) AS n,
  ROUND(AVG(ROUND((
    least(n_tokens / 20.0, 1.0)
    + least(stop_ratio / 0.05, 1.0)
    + (1.0 - least(punct_ratio * 4.0, 1.0))
    + CASE WHEN mean_tok BETWEEN 2 AND 12 THEN 1.0 ELSE 0.3 END
  ) / 4.0, 6)), 6) AS avg_quality
FROM q
GROUP BY source
ORDER BY source
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        docs.withColumn("q", textstats.quality_score(F.col("text")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("q"), 6).alias("avg_quality"))
        .orderBy("source")
    )


@register(
    "text_langid",
    doc="language-ID heuristic (stopword-ratio argmax over 4 languages): "
    "predicted x stored-lang confusion counts.",
    oracle=_LANGID_PRED_SQL
    + """
SELECT lang, predicted, count(*) AS n
FROM p GROUP BY lang, predicted
ORDER BY lang, predicted
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        docs.withColumn("predicted", textstats.lang_id(F.col("text")))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "text_token_counts",
    doc="token counting: whitespace and BPE-ish regex counts per source.",
    oracle=f"""
SELECT source,
  CAST(SUM(len(list_filter(string_split(trim(text), ' '), t -> t <> ''))) AS BIGINT) AS ws_tokens,
  CAST(SUM(len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN}'))) AS BIGINT) AS bpe_tokens
FROM documents
GROUP BY source
ORDER BY source
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        docs.groupBy("source")
        .agg(
            F.sum(textstats.token_count(F.col("text"))).alias("ws_tokens"),
            F.sum(textstats.bpe_ish_token_count(F.col("text"))).alias("bpe_tokens"),
        )
        .orderBy("source")
    )


@register(
    "multimodal_features",
    oracle=f"""
WITH b AS (
  SELECT doc_id,
         unnest([ord(substr(text, __i, 1)) // 32 for __i in range(1, length(text) + 1)]) AS bin
  FROM documents
),
e AS (SELECT doc_id, entropy(bin) AS ent FROM b GROUP BY doc_id),
d AS (
  SELECT doc.doc_id, coalesce(length(doc.text), 0) AS n_bytes, coalesce(e.ent, 0.0) AS ent
  FROM documents doc LEFT JOIN e ON doc.doc_id = e.doc_id
)
SELECT 'image' AS kind, count(*) AS n, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       ROUND(AVG(ent), {R}) AS avg_entropy
FROM d
GROUP BY kind
ORDER BY kind
""",
    doc="multimodal plumbing: binary payload column -> mapInPandas "
    "featurizer (Arrow batches). Fully oracled since r04: the sandbox "
    "payloads are the documents' (ASCII) text bytes, so DuckDB "
    "recomputes the 8-bin byte entropy per payload with its log2 "
    "entropy() aggregate -- certifying the Arrow batch path end-to-end; "
    "raw byte values additionally pinned in golden tests.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media)
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(F.avg("byte_entropy"), R).alias("avg_entropy"),
        )
        .orderBy("kind")
    )


@register(
    "multimodal_frame_sample",
    doc="frame-sampling plumbing with a full oracle: documents adapted as "
    "fake videos (duration_ms = n_chars*10), sampled every 250 ms via "
    "explode(sequence) -- the fan-out-before-decode shape; per-media "
    "frame counts vs DuckDB range/unnest.",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id, greatest(n_chars * 10 - 1, 0) AS last_ms FROM documents
), f AS (
  SELECT media_id, unnest(range(0, last_ms + 1, 250)) AS frame_ms FROM m
)
SELECT media_id, count(*) AS n_frames, max(frame_ms) AS last_frame_ms
FROM f
GROUP BY media_id
ORDER BY media_id
LIMIT 500
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("video/fake").alias("mime"),
        F.encode("text", "utf-8").alias("payload"),
        (F.col("n_chars").cast("long") * 10).alias("duration_ms"),
    )
    frames = multimodal.sample_frames(media, every_ms=250)
    return (
        frames.groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"), F.max("frame_ms").alias("last_frame_ms"))
        .orderBy("media_id")
        .limit(500)
    )


@register(
    "text_repetition",
    doc="Gopher-style repetition signals per source: mean duplicate-2gram "
    "fraction and mean top-2gram share. Pure codegen array intrinsics per "
    "row + one rollup shuffle -- same scale shape as the other text ops.",
    oracle=f"""
WITH t AS (
  SELECT source, string_split(trim(text), ' ') AS toks FROM documents
), g AS (
  SELECT source, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams
  FROM t
), f AS (
  SELECT source,
    CASE WHEN len(grams) > 0
         THEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams) ELSE 0.0 END AS dup2,
    CASE WHEN len(grams) > 0
         THEN list_max(list_transform(list_distinct(grams),
                                      d -> len(list_filter(grams, x -> x = d))))::DOUBLE
              / len(grams)
         ELSE 0.0 END AS top2
  FROM g
)
SELECT source, count(*) AS n_docs,
       ROUND(AVG(dup2), {R}) AS avg_dup2gram,
       ROUND(AVG(top2), {R}) AS avg_top2gram
FROM f GROUP BY source ORDER BY source
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # grams materialized ONCE as a column (r13): both signals derive
    # from the same array; inlining the gram construction into each
    # signal evaluated it once per signal (no CSE across interpreted
    # HOF projections). Projection-only change: per-row values are the
    # same exact integers/doubles and the row order feeding the
    # per-source AVG fold is untouched (no repartition -- AVG's float
    # fold order is part of the pinned oracle contract).
    feats = docs.select(
        "source", textstats.word_ngrams(F.col("text"), 2).alias("_g2")
    ).select(
        "source",
        textstats.dup_ngram_fraction_of(F.col("_g2")).alias("dup2"),
        textstats.top_ngram_fraction_of(F.col("_g2")).alias("top2"),
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dup2"), R).alias("avg_dup2gram"),
            F.round(F.avg("top2"), R).alias("avg_top2gram"),
        )
        .orderBy("source")
    )


@register(
    "text_pii_scrub",
    doc="PII detect + mask: deterministic synthetic PII (the corpus has "
    "none) is injected IDENTICALLY on both engines, then counted per "
    "class and masked; the masked-length sum pins the rewrite exactly. "
    "Regexes restricted to the Java-regex/RE2 common dialect.",
    oracle="""
WITH synth AS (
  SELECT source,
    text || ' contact user' || doc_id || '@example.com from 10.'
         || (doc_id % 200) || '.0.' || (doc_id % 250)
         || ' call +1555' || lpad((doc_id % 10000)::VARCHAR, 7, '0')
         || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@test.org' ELSE '' END AS t
  FROM documents
), f AS (
  SELECT source,
    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
    len(regexp_extract_all(t, '(?:[0-9]{1,3}\\.){3}[0-9]{1,3}')) AS n_ipv4,
    len(regexp_extract_all(t, '\\+[0-9]{7,15}')) AS n_phone,
    length(regexp_replace(regexp_replace(regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '(?:[0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'),
      '\\+[0-9]{7,15}', '<PHONE>', 'g')) AS masked_len
  FROM synth
)
SELECT source, count(*) AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS emails, CAST(SUM(n_ipv4) AS BIGINT) AS ipv4s,
       CAST(SUM(n_phone) AS BIGINT) AS phones,
       CAST(SUM(masked_len) AS BIGINT) AS masked_chars
FROM f GROUP BY source ORDER BY source
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    did = F.col("doc_id")
    synth = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com from 10."), (did % 200).cast("string"),
            F.lit(".0."), (did % 250).cast("string"),
            F.lit(" call +1555"), F.lpad((did % 10000).cast("string"), 7, "0"),
            F.when(did % 3 == 0, F.lit(" cc admin@test.org")).otherwise(F.lit("")),
        ).alias("t"),
    )
    pii = textstats.pii_counts(F.col("t"))
    f = synth.select(
        "source",
        pii["n_email"].alias("n_email"),
        pii["n_ipv4"].alias("n_ipv4"),
        pii["n_phone"].alias("n_phone"),
        F.length(textstats.pii_mask(F.col("t"))).alias("masked_len"),
    )
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("emails"),
            F.sum("n_ipv4").alias("ipv4s"),
            F.sum("n_phone").alias("phones"),
            F.sum("masked_len").alias("masked_chars"),
        )
        .orderBy("source")
    )


@register(
    "decontam_ngram_overlap",
    doc="train/eval decontamination: corpus docs (doc_id % 20 != 0) "
    "sharing >= 3 distinct 5-gram word sequences with any benchmark doc "
    "(doc_id % 20 == 0). Equi-join on hashed n-grams, benchmark side "
    "broadcast -- the corpus never shuffles, pair volume is true-overlap "
    "bounded, never |corpus| x |eval| (operators/decontam.py).",
    oracle="""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(len(t) - 4),
                i -> array_to_string(t[i+1:i+5], ' ')))) AS ng
  FROM tok WHERE len(t) >= 5
)
SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
FROM g c JOIN g b ON c.ng = b.ng
WHERE c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
GROUP BY c.doc_id, b.doc_id
HAVING count(*) >= 3
ORDER BY c.doc_id, bench_id
""",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.decontam import ngram_contamination
    from testlog_etl_spark.util import spread

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # r13: spread the corpus side -- the 5-gram hashing is CPU-heavy
    # per-row work that ran serially on the single-file scan partition.
    # Outputs are exact under any row order (integer shared-gram
    # counts). The benchmark side stays serial: it is tiny by contract
    # and is broadcast anyway.
    corpus = spread(docs.filter(F.col("doc_id") % 20 != 0).select("doc_id", "text"))
    bench = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    out = ngram_contamination(corpus, bench, n=5, min_shared=3)
    return out.select("doc_id", "bench_id", "n_shared").orderBy("doc_id", "bench_id")


@register(
    "split_hash_deterministic",
    doc="deterministic 80/10/10 train/val/test split, sticky per doc_id: "
    "bucket = first 60 bits of md5(doc_id || ':' || seed) mod 10000 -- a "
    "pure projection (no shuffle/sort/RNG), bit-identical in any engine, "
    "so the oracle recomputes the SAME assignment (operators/sampling.py).",
    oracle="""
WITH b AS (
  SELECT source, n_chars,
         try_cast(('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15)) AS BIGINT) % 10000 AS bkt
  FROM documents
), s AS (
  SELECT source, n_chars,
         CASE WHEN bkt < 8000 THEN 'train' WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split
  FROM b
)
SELECT split, source, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM s GROUP BY split, source ORDER BY split, source
""",
)
def split_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sampling import split_assign

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="42")
    return (
        out.groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars"))
        .orderBy("split", "source")
    )


@register(
    "docs_filter_pipeline",
    doc="composite C4/Gopher-style quality gate: first-failing-rule "
    "verdict (too_short -> low_stopword -> repetitive -> bad_shape -> "
    "keep) as one chained CASE inside the scan's codegen; drop-reason "
    "histogram with kept-token mass per verdict (operators/filtering.py).",
    oracle="""
WITH s AS (
  SELECT
    len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS n_tok,
    len(list_filter(string_split(lower(text),' '),
        t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], t)))::DOUBLE
      / greatest(len(string_split(lower(text),' ')), 1) AS sw,
    list_sum(list_transform(list_filter(string_split(trim(text), ' '), t -> t <> ''),
                            t -> length(t)))::DOUBLE
      / greatest(len(list_filter(string_split(trim(text), ' '), t -> t <> '')), 1) AS mtl,
    CASE WHEN len(string_split(trim(text), ' ')) >= 2
         THEN 1.0 - len(list_distinct(list_transform(range(1, len(string_split(trim(text),' '))),
                i -> string_split(trim(text),' ')[i] || ' ' || string_split(trim(text),' ')[i+1])))::DOUBLE
              / (len(string_split(trim(text),' ')) - 1)
         ELSE 0.0 END AS dup2
  FROM documents
), v AS (
  SELECT n_tok,
    CASE WHEN n_tok < 25 THEN 'too_short'
         WHEN sw < 0.02 THEN 'low_stopword'
         WHEN dup2 > 0.05 THEN 'repetitive'
         WHEN NOT (mtl BETWEEN 2.0 AND 9.0) THEN 'bad_shape'
         ELSE 'keep' END AS verdict
  FROM s
)
SELECT verdict, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens
FROM v GROUP BY verdict ORDER BY verdict
""",
)
def docs_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.filtering import filter_verdict
    from testlog_etl_spark.util import spread

    # spread first: the 4 rule signals are CPU-heavy string lambdas and
    # the driver parquet arrives as ONE split (measured 10.9 s -> 1.4 s)
    docs = spread(load_tables(spark, sf_dir, ("documents",))["documents"].select("text"))
    return (
        docs.select(
            filter_verdict(F.col("text")).alias("verdict"),
            textstats.token_count(F.col("text")).alias("n_tok"),
        )
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("tokens"))
        .orderBy("verdict")
    )


@register(
    "sample_stratified",
    doc="per-stratum deterministic corpus mixing (downsample some "
    "sources, keep others): md5-bucket threshold per source, default "
    "rate for unnamed strata -- pure projection+filter, no shuffle/RNG, "
    "sticky per doc_id, nested buckets so rates are re-tunable "
    "(operators/sampling.py::stratified_sample).",
    oracle="""
WITH b AS (
  SELECT source, n_chars,
         try_cast(('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 15)) AS BIGINT) % 10000 AS bkt
  FROM documents
)
SELECT source, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM b
WHERE bkt < CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                        WHEN 'src2' THEN 2500 WHEN 'src3' THEN 1000
                        ELSE 400 END
GROUP BY source ORDER BY source
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sampling import stratified_sample

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    kept = stratified_sample(
        docs,
        strata_col="source",
        id_col="doc_id",
        fractions={"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        default=0.04,
        seed="7",
    )
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars"))
        .orderBy("source")
    )


@register(
    "dedup_chunk_crossdoc",
    doc="sub-document dedup (RefinedWeb/CCNet line-dedup analog): "
    "non-overlapping 3-token chunks, an identical chunk keeps only its "
    "earliest (doc_id, pos) instance corpus-wide. Shuffle carries the "
    "8-byte chunk hash, never text (operators/dedup.py::dedup_chunks); "
    "oracle windows over chunk TEXT -- agreement also certifies the "
    "hash-equality assumption.",
    oracle="""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, source, i AS pos, array_to_string(toks[i+1:i+3], ' ') AS chunk
  FROM t, unnest(range(0, greatest(len(toks) - 2, 0), 3)) AS u(i)
  WHERE len(toks) >= 3
), r AS (
  SELECT source, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM c
)
SELECT source, count(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM r GROUP BY source ORDER BY source
""",
)
def dedup_chunk_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.dedup import chunk_instances, dedup_chunks

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    inst = chunk_instances(docs, "doc_id", "text", k=3, carry=("source",))
    marked = dedup_chunks(inst, "doc_id")
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
        )
        .orderBy("source")
    )


@register(
    "text_vocab_topk",
    doc="corpus vocabulary: top-50 terms by occurrence count with "
    "document frequency (tokenizer/vocab-building primitive). "
    "explode -> one partial-agg shuffle on term; total order "
    "(n DESC, term) makes the top-k deterministic across engines.",
    oracle="""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS term
  FROM documents
)
SELECT term, count(*) AS n, count(DISTINCT doc_id) AS n_docs
FROM t GROUP BY term
ORDER BY n DESC, term
LIMIT 50
""",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    terms = docs.select("doc_id", F.explode(textstats.tokens(F.col("text"))).alias("term"))
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n"), "term")
        .limit(50)
    )


@register(
    "dedup_group_resolve",
    doc="duplicate-GROUP resolution: connected components over the "
    "LSH-verified pair graph (duplicates chain: A~B~C collapses to one "
    "group even when A!~C), min-id canonical per group. Spark side is "
    "O(log n)-round label propagation with pointer jumping "
    "(operators/dupgroups.py); oracle recomputes components via a "
    "recursive CTE over the exact O(n^2) pair scan. Output: corpus "
    "group-size histogram (singletons = size 1).",
    oracle=f"""
WITH RECURSIVE
t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
d AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh,b.sh))::DOUBLE /
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh,b.sh))) >= 0.5
),
sym AS (SELECT src AS a, dst AS b FROM pairs UNION ALL SELECT dst AS a, src AS b FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
),
comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
lab AS (
  SELECT documents.doc_id, coalesce(comp.comp, documents.doc_id) AS group_id
  FROM documents LEFT JOIN comp ON comp.id = documents.doc_id
),
grp AS (SELECT group_id, count(*) AS group_size FROM lab GROUP BY group_id)
SELECT group_size, count(*) AS n_groups
FROM grp GROUP BY group_size ORDER BY group_size
""",
)
def dedup_group_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import dupgroups

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = neardup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    g = dupgroups.dup_groups(docs, pairs, "doc_id")
    return (
        g.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .orderBy("group_size")
    )


@register(
    "dedup_best_exemplar",
    doc="quality-based exemplar per duplicate group (the production "
    "alternative to dedup_group_resolve's min-id survivor): connected "
    "components over the verified pair graph, then keep each group's "
    "HIGHEST-scored member (2^-20-snapped logistic score -- "
    "bit-portable -- with doc_id tie-break, selected via one "
    "min-struct aggregate, no per-group sort). Non-singleton groups "
    "only. Oracle replays components with a recursive CTE and the "
    "same snapped score.",
    oracle=f"""
WITH RECURSIVE
t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
d AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh,b.sh))::DOUBLE /
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh,b.sh))) >= 0.5
),
sym AS (SELECT src AS a, dst AS b FROM pairs UNION ALL SELECT dst AS a, src AS b FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
),
comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
m AS (
  SELECT comp.comp AS group_id, documents.doc_id,
         floor((1.0 / (1.0 + exp(-({_quality_z_sql()})))) * 1048576 + 0.5) / 1048576 AS s
  FROM documents JOIN comp ON comp.id = documents.doc_id
),
sel AS (
  SELECT group_id, doc_id, s,
         ROW_NUMBER() OVER (PARTITION BY group_id ORDER BY s DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY group_id) AS gs
  FROM m
)
SELECT group_id, doc_id AS exemplar_id, ROUND(s, 6) AS exemplar_score,
       CAST(gs AS BIGINT) AS group_size
FROM sel WHERE rn = 1 AND gs >= 2
ORDER BY group_id
""",
)
def dedup_best_exemplar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import dupgroups, filtering

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = neardup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    g = dupgroups.dup_groups(docs, pairs, "doc_id")
    snap = F.lit(float(1 << 20))
    s = F.floor(filtering.linear_quality_score(F.col("text")) * snap + F.lit(0.5)) / snap
    # members of real duplicate groups only (a non-singleton group's
    # members matched a >=0.5-Jaccard pair, so text is non-degenerate)
    members = g.select("group_id", "doc_id", s.alias("_s"))
    # min of (-score, doc_id) == max score with SMALLEST-id tie-break;
    # negation of grid-snapped doubles is exact
    agg = members.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min(F.struct((-F.col("_s")).alias("ns"), F.col("doc_id").alias("d"))).alias("_m"),
    )
    return (
        agg.filter(F.col("group_size") >= 2)
        .select(
            "group_id",
            F.col("_m.d").alias("exemplar_id"),
            F.round(-F.col("_m.ns"), 6).alias("exemplar_score"),
            "group_size",
        )
        .orderBy("group_id")
    )


@register(
    "pack_sequences",
    doc="GPT-style concat-and-chunk packing accounting: docs laid out "
    "as one token stream in doc_id order, cut into 512-token sequences; "
    "per-source docs / token mass / boundary-crossing docs. Spark side "
    "is a hierarchical prefix scan (range partition + per-partition "
    "window + broadcast partition offsets -- no single-partition global "
    "window; operators/packing.py); oracle is the plain global window "
    "sum DuckDB can afford at this scale.",
    oracle="""
WITH s AS (
  SELECT source,
         len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS n_tok,
         SUM(len(list_filter(string_split(trim(text), ' '), t -> t <> '')))
             OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
)
SELECT source, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN n_tok > 0 AND (cum - n_tok) // 512 <> (cum - 1) // 512
                THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
FROM s GROUP BY source ORDER BY source
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import packing

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select("doc_id", "source", textstats.token_count(F.col("text")).alias("n_tok"))
    packed = packing.pack_chunks(toks, "doc_id", "n_tok", seq_len=512)
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.col("crosses").cast("long")).alias("n_crossing"),
        )
        .orderBy("source")
    )


@register(
    "pack_length_buckets",
    doc="length-bucketed batching accounting (the pack_sequences "
    "sibling for padded batching): docs binned to the smallest "
    "power-of-two token bucket (operators/packing.py::length_bucket -- "
    "integer CASE ladder, no float log2 at bucket boundaries), per "
    "bucket the doc/token mass, padded token mass, padding-waste "
    "fraction, and 16-doc batch count. Pure projection + one rollup "
    "shuffle of bucket cells; at 100 TB the bucket id doubles as the "
    "batch-shard write key.",
    oracle="""
WITH t AS (
  SELECT len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS n FROM documents
),
b AS (
  SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
              WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
              WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048 WHEN n <= 4096 THEN 4096
              ELSE 8192 END::INT AS bucket,
         n
  FROM t
)
SELECT bucket, count(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
       ROUND(1.0 - SUM(n)::DOUBLE / (bucket * count(*)), 4) AS waste_frac,
       CAST(ceil(count(*) / 16.0) AS BIGINT) AS n_batches
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import packing

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    n_tok = textstats.token_count(F.col("text"))
    g = (
        docs.select(packing.length_bucket(n_tok).alias("bucket"), n_tok.alias("_n"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_n").cast("long").alias("n_tokens"))
    )
    padded = (F.col("bucket").cast("long") * F.col("n_docs")).alias("padded_tokens")
    return g.select(
        "bucket",
        "n_docs",
        "n_tokens",
        padded,
        F.round(F.lit(1.0) - F.col("n_tokens").cast("double") / padded, 4).alias("waste_frac"),
        F.ceil(F.col("n_docs") / F.lit(16.0)).cast("long").alias("n_batches"),
    ).orderBy("bucket")


@register(
    "text_tfidf_topk",
    doc="TF-IDF scoring: top-40 (term, doc) pairs by tf * ln((N+1)/(df+1)) "
    "with smoothed idf. Two partial-agg shuffles (doc-term tf, then term "
    "df); N rides a broadcast 1-row aggregate, never a driver action. "
    "Ordering is by the ROUNDED score then (term, doc) so cross-engine "
    "ulp noise in ln cannot reorder ties.",
    oracle=f"""
WITH terms AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM documents)
SELECT tf.term, tf.doc_id,
       ROUND(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), {R}) AS score
FROM tf JOIN df USING (term), n
ORDER BY score DESC, tf.term, tf.doc_id
LIMIT 40
""",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    terms = docs.select("doc_id", F.explode(textstats.tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df as a window count sharing one term exchange (r12, guide 2.4):
    # the groupBy rollup + join-back either broadcast the FULL
    # vocabulary (unbounded at corpus scale) or reshuffled tf a second
    # time; the window moves tf by term exactly once with constant
    # per-key state
    dfw = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    score = F.round(
        F.col("tf") * F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))), R
    )
    return (
        tf.withColumn("df", dfw)
        .join(F.broadcast(n))
        .select("term", "doc_id", score.alias("score"))
        .orderBy(F.desc("score"), "term", "doc_id")
        .limit(40)
    )


@register(
    "corpus_build_e2e",
    doc="end-to-end corpus build, the flagship composite: exact dedup "
    "(earliest doc per normalized-text fingerprint, RefinedWeb order) "
    "-> quality gate on the canonical docs -> deterministic 50% hash "
    "downsample -> per-source kept-doc / token accounting. One scan, "
    "signals computed once pre-shuffle; only shuffles are the dedup "
    "window (small columns only) and the final rollup.",
    oracle="""
WITH sig AS (
  SELECT doc_id, source,
         len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS n_tok,
         len(list_filter(string_split(lower(text),' '),
             t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], t)))::DOUBLE
           / greatest(len(string_split(lower(text),' ')), 1) AS sw,
         list_sum(list_transform(list_filter(string_split(trim(text), ' '), t -> t <> ''),
                                 t -> length(t)))::DOUBLE
           / greatest(len(list_filter(string_split(trim(text), ' '), t -> t <> '')), 1) AS mtl,
         CASE WHEN len(string_split(trim(text), ' ')) >= 2
              THEN 1.0 - len(list_distinct(list_transform(range(1, len(string_split(trim(text),' '))),
                     i -> string_split(trim(text),' ')[i] || ' ' || string_split(trim(text),' ')[i+1])))::DOUBLE
                   / (len(string_split(trim(text),' ')) - 1)
              ELSE 0.0 END AS dup2,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn FROM sig
  ) WHERE rn = 1
    AND n_tok >= 25 AND sw >= 0.02 AND dup2 <= 0.05 AND mtl BETWEEN 2.0 AND 9.0
),
sampled AS (
  SELECT * FROM dedup
  WHERE try_cast(('0x' || substr(md5(doc_id::VARCHAR || ':13'), 1, 15)) AS BIGINT) % 10000 < 5000
)
SELECT source, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM sampled GROUP BY source ORDER BY source
""",
)
def corpus_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.filtering import filter_verdict
    from testlog_etl_spark.operators.sampling import hash_bucket
    from testlog_etl_spark.util import spread

    docs = spread(load_tables(spark, sf_dir, ("documents",))["documents"])
    # ALL text-derived signals are computed in this ONE pre-window
    # projection: the Window over fp is a pushdown barrier, so the
    # verdict filter below cannot slide under spread()'s repartition and
    # serialize the CPU-heavy signals onto the scan's single input split
    # (measured 12.5 s -> ~2 s at sf0.1); text is dropped here, so the
    # dedup shuffle carries only small columns.
    sig = docs.select(
        "doc_id",
        "source",
        textstats.token_count(F.col("text")).alias("n_tok"),
        textstats.fingerprint(F.col("text")).alias("fp"),
        filter_verdict(F.col("text")).alias("verdict"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    dedup = sig.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("verdict") == "keep")
    )
    sampled = dedup.filter(hash_bucket(F.col("doc_id"), 10_000, "13") < 5_000)
    return (
        sampled.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .orderBy("source")
    )


@register(
    "sample_exact_k_per_group",
    doc="hard per-group budget: exactly min(k,|group|)=40 docs per "
    "source drawn uniformly without replacement by ranking on the "
    "60-bit md5 key hash (deterministic, engine-portable; one ranking "
    "shuffle -- operators/sampling.py::exact_k_per_group).",
    oracle="""
WITH h AS (
  SELECT source, doc_id, n_chars,
         try_cast(('0x' || substr(md5(doc_id::VARCHAR || ':21'), 1, 15)) AS BIGINT) AS hv
  FROM documents
),
r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
  FROM h
)
SELECT source, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM r WHERE rk <= 40
GROUP BY source ORDER BY source
""",
)
def sample_exact_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sampling import exact_k_per_group

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    kept = exact_k_per_group(docs, "source", "doc_id", k=40, seed="21")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


@register(
    "dedup_incremental",
    doc="incremental dedup: a NEW batch (odd doc_ids) anti-joined "
    "against the EXISTING corpus's fingerprint index (even doc_ids) -- "
    "the production shape where the existing corpus is never re-scanned "
    "(its 8-byte signatures are; at 100 TB the index is a fraction of "
    "corpus bytes and the anti-join shuffles hashes only). Oracle "
    "anti-joins on normalized text, certifying the fingerprint "
    "equivalence.",
    oracle="""
WITH ex AS (
  SELECT DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents WHERE doc_id % 2 = 0
),
new AS (
  SELECT source, n_chars,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents WHERE doc_id % 2 = 1
)
SELECT source, count(*) AS n_new,
       CAST(SUM(CASE WHEN ex.norm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM new LEFT JOIN ex ON new.norm = ex.norm
GROUP BY source ORDER BY source
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.dedup import content_hash

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    existing_idx = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(content_hash(F.col("text")).alias("fp"))
        .distinct()
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "source", content_hash(F.col("text")).alias("fp")
    )
    kept = new.join(existing_idx, "fp", "left_anti").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    totals = new.groupBy("source").agg(F.count(F.lit(1)).alias("n_new"))
    return (
        totals.join(kept, "source", "left")
        .select("source", "n_new", F.coalesce("n_kept", F.lit(0)).alias("n_kept"))
        .orderBy("source")
    )


_SPAN_K = 8


def _substring_spans_oracle(k: int = _SPAN_K) -> str:
    """DuckDB twin of operators/dedup.py::substring_spans over gram TEXT
    (the semantic contract); the Spark side moves 8-byte xxhash64 gram
    keys instead -- agreement also certifies the hash path collision-free
    at this scale."""
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), __t -> __t != '') AS w
  FROM documents
),
g0 AS (
  SELECT doc_id,
         [array_to_string(w[__i:__i + {k - 1}], ' ') for __i in range(1, len(w) - {k} + 2)] AS grams
  FROM t
),
g AS (
  SELECT doc_id, generate_subscripts(grams, 1) - 1 AS pos, unnest(grams) AS gram
  FROM g0
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos) OVER w1 IS NULL OR pos > max(pos) OVER w1 + {k}
              THEN 1 ELSE 0 END AS new_span
  FROM p
  WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
mm AS (
  SELECT doc_id, pos,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM m
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {k - 1} AS span_end,
       MAX(pos) + {k - 1} - MIN(pos) + 1 AS span_tokens
FROM mm GROUP BY doc_id, grp
ORDER BY doc_id, span_start
"""


@register(
    "dedup_substring_spans",
    oracle=_substring_spans_oracle(),
    doc="exact-substring-span dedup tier (RefinedWeb / Lee et al.): "
    "maximal cross-doc duplicated token spans of >= 8 tokens per doc, "
    "found as runs of cross-doc-repeated 8-gram hashes -- the "
    "distributed restatement of suffix-array dedup (no suffix array, "
    "no pairwise compare; 8-byte keys through every shuffle). Oracle "
    "recomputes the spans over gram TEXT.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.dedup import substring_spans

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return substring_spans(docs, "doc_id", "text", k=_SPAN_K).orderBy("doc_id", "span_start")


@register(
    "text_unigram_ppl",
    doc="CCNet-style LM quality signal: unigram model trained on the "
    "corpus itself (token probs = count/total with add-one smoothing), "
    "each doc scored by mean negative log-likelihood, docs histogrammed "
    "by floor(nll) per source. Two shuffles (vocab build, score "
    "rollup); the vocab rides a hash join on term -- never a driver "
    "collect. Histogram buckets are integer floors, so cross-engine ln "
    "ulp noise cannot move a doc across a bucket edge unless it sits "
    "within ulps of an integer nll -- not the case for this corpus.",
    oracle="""
WITH terms AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS term
  FROM documents
),
vocab AS (SELECT term, count(*) AS c FROM terms GROUP BY term),
tot AS (SELECT count(*) AS n, count(DISTINCT term) AS v FROM terms),
scored AS (
  SELECT t.doc_id, t.source,
         AVG(-ln((vocab.c + 1.0) / (tot.n + tot.v))) AS nll
  FROM terms t JOIN vocab USING (term), tot
  GROUP BY t.doc_id, t.source
)
SELECT source, floor(nll)::BIGINT AS nll_bucket, count(*) AS n_docs
FROM scored GROUP BY source, nll_bucket
ORDER BY source, nll_bucket
""",
)
def text_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    terms = docs.select(
        "doc_id", "source", F.explode(textstats.tokens(F.col("text"))).alias("term")
    )
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = terms.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("term").alias("v")
    )
    scored = (
        terms.join(vocab, "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(F.avg(-F.log((F.col("c") + F.lit(1.0)) / (F.col("n") + F.col("v")))).alias("nll"))
    )
    return (
        scored.select("source", F.floor("nll").cast("long").alias("nll_bucket"))
        .groupBy("source", "nll_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "nll_bucket")
    )


@register(
    "embed_quantize_int8",
    doc="int8 embedding quantization for ANN storage: per-vector "
    "symmetric scale (127/max|x|), round-half-up to match both engines "
    "(floor(x+0.5)); 4x storage cut before bucketed ANN. Verified by "
    "per-label rollup of quantized-component sums and saturation "
    "counts -- all integer math after the quantize, so the compare is "
    "exact.",
    oracle="""
WITH q AS (
  SELECT label,
         list_transform(embedding,
           x -> CASE WHEN mx = 0 THEN 0
                     ELSE floor(x::DOUBLE * 127.0 / mx + 0.5)::BIGINT END) AS qv
  FROM (SELECT label, embedding,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
        FROM embeddings)
)
SELECT label,
       SUM(list_sum(qv))::BIGINT AS q_sum,
       SUM(len(list_filter(qv, v -> abs(v) = 127)))::BIGINT AS n_saturated,
       count(*) AS n_vecs
FROM q GROUP BY label ORDER BY label
""",
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(dbl, lambda x: F.abs(x)))
    qv = F.transform(
        dbl,
        lambda x: F.when(mx == 0, F.lit(0).cast("bigint")).otherwise(
            F.floor(x * F.lit(127.0) / mx + F.lit(0.5)).cast("bigint")
        ),
    )
    q = emb.select("label", qv.alias("qv"))
    return (
        q.groupBy("label")
        .agg(
            F.sum(F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, b: a + b)).alias("q_sum"),
            F.sum(F.size(F.filter("qv", lambda v: F.abs(v) == 127))).cast("bigint").alias("n_saturated"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label")
    )


@register(
    "text_source_kl",
    doc="corpus drift monitor: KL(source term distribution || corpus "
    "term distribution) per source, smoothed, over the shared vocab. "
    "Two partial-agg shuffles + one hash join on term; the per-source "
    "sum is rounded at 4dp identically on both engines.",
    oracle="""
WITH terms AS (
  SELECT source,
         unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS term
  FROM documents
),
src AS (SELECT source, term, count(*) AS c FROM terms GROUP BY source, term),
srctot AS (SELECT source, SUM(c) AS n FROM src GROUP BY source),
corpus AS (SELECT term, count(*) AS c FROM terms GROUP BY term),
corptot AS (SELECT SUM(c) AS n, count(*) AS v FROM corpus)
SELECT src.source AS source,
       ROUND(SUM((src.c::DOUBLE / srctot.n) *
                 ln((src.c::DOUBLE / srctot.n) /
                    ((corpus.c + 1.0) / (corptot.n + corptot.v)))), 4) AS kl
FROM src
JOIN srctot USING (source)
JOIN corpus USING (term), corptot
GROUP BY src.source
ORDER BY source
""",
)
def text_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    terms = docs.select("source", F.explode(textstats.tokens(F.col("text"))).alias("term"))
    src = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    srctot = src.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cc"))
    corptot = corpus.agg(F.sum("cc").alias("cn"), F.count(F.lit(1)).alias("v"))
    p = F.col("c").cast("double") / F.col("n")
    q = (F.col("cc") + F.lit(1.0)) / (F.col("cn") + F.col("v"))
    return (
        src.join(srctot, "source")
        .join(corpus, "term")
        .join(F.broadcast(corptot))
        .groupBy("source")
        .agg(F.round(F.sum(p * F.log(p / q)), 4).alias("kl"))
        .orderBy("source")
    )


@register(
    "text_bpe_pair_mining",
    doc="first BPE merge step: corpus-wide adjacent-token-pair "
    "frequencies, top-30 merge candidates with document frequency. "
    "Pairs are built per-row with array intrinsics (zip of toks with "
    "its tail) -- no shuffle until the partial-agg rollup; total order "
    "(n DESC, pair) keeps the top-k deterministic.",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS toks
  FROM documents
),
p AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS pair
  FROM t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
)
SELECT pair, count(*) AS n, count(DISTINCT doc_id) AS n_docs
FROM p GROUP BY pair
ORDER BY n DESC, pair
LIMIT 30
""",
)
def text_bpe_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = textstats.tokens(F.col("text"))
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    exploded = docs.select("doc_id", F.explode(pairs).alias("pair"))
    return (
        exploded.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n"), "pair")
        .limit(30)
    )


@register(
    "sample_mixture_weighted",
    doc="weighted mixture resampling: per-source REAL replication factors "
    "(upsample x2.5, downsample x0.4, drop x0) -- floor(r) copies plus a "
    "deterministic frac(r) hash-slice, emitted with a copy index. Pure "
    "projection + row-local explode(sequence): no shuffle, no RNG.",
    oracle="""
WITH f AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
                     WHEN 'src3' THEN 0.0 ELSE 1.0 END AS fac,
         try_cast(('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 15)) AS BIGINT) % 10000 AS b
  FROM documents
),
c AS (
  SELECT doc_id, source,
         CAST(floor(fac) AS BIGINT)
         + CASE WHEN b < CAST(round((fac - floor(fac)) * 10000) AS BIGINT)
                THEN 1 ELSE 0 END AS copies
  FROM f
),
e AS (
  SELECT doc_id, source, unnest(range(copies)) AS rep FROM c WHERE copies > 0
)
SELECT source, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
       CAST(max(rep) AS BIGINT) AS max_rep
FROM e GROUP BY source ORDER BY source
""",
)
def sample_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    mixed = sampling.weighted_mixture(
        docs, "source", "doc_id",
        {"src0": 2.5, "src1": 0.4, "src3": 0.0},
        default=1.0, seed="mix",
    )
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.max("_rep").alias("max_rep"),
        )
        .orderBy("source")
    )


@register(
    "sim_topk_int8",
    doc="similarity search over int8-QUANTIZED embeddings: per-vector "
    "scales cancel inside cosine, so scoring is integer dot products -- "
    "exact in double on both engines, which makes the 4x-storage ANN "
    "path fully oracle-able (unlike recall-graded LSH/IVF tiers). "
    "Oracle states the same quantize + integer-dot ranking in SQL.",
    oracle=f"""
WITH q8 AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CASE WHEN mx = 0 THEN 0
                     ELSE floor(x::DOUBLE * 127.0 / mx + 0.5) END) AS qv
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
        FROM embeddings)
),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         list_dot_product(a.qv, b.qv)
           / (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) AS cos_full
  FROM q8 a JOIN q8 b ON a.vec_id < 20 AND a.vec_id <> b.vec_id
),
r AS (
  SELECT q_id, c_id, cos_full,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_full DESC, c_id) AS rank
  FROM scored
)
SELECT q_id, c_id, ROUND(cos_full, {R}) AS cos, rank
FROM r WHERE rank <= 5
ORDER BY q_id, rank
""",
)
def sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = similarity.topk_cosine_int8(queries, corpus, k=5)
    return out.select("q_id", "c_id", F.round("cosine", R).alias("cos"), "rank").orderBy("q_id", "rank")


@register(
    "text_boilerplate_fraction",
    doc="boilerplate diagnostic: per-doc fraction of distinct 3-word "
    "shingles that also occur in OTHER docs, averaged per source. The "
    "corpus-frequency join moves 8-byte xxhash64 shingle keys, never "
    "shingle text (collision-free at corpus scale vs 2^64).",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
d AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS g FROM t),
c AS (SELECT g, count(DISTINCT doc_id) AS n_docs FROM d GROUP BY g),
p AS (
  SELECT d.doc_id,
         SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS frac
  FROM d JOIN c USING (g)
  GROUP BY d.doc_id
)
SELECT doc.source, count(*) AS n_docs,
       ROUND(AVG(coalesce(p.frac, 0)), {R}) AS avg_boilerplate
FROM documents doc LEFT JOIN p ON doc.doc_id = p.doc_id
GROUP BY doc.source
ORDER BY doc.source
""",
)
def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.util import spread

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sh = spread(docs.select("doc_id", neardup.word_shingles(F.col("text")).alias("_sh")))
    # 8-byte keys through both shuffles; shingle text never leaves the row
    g = sh.select("doc_id", F.explode(F.transform("_sh", lambda s: F.xxhash64(s))).alias("g"))
    counts = g.groupBy("g").agg(F.count_distinct("doc_id").alias("n_docs"))
    frac = (
        g.join(counts, "g")
        .groupBy("doc_id")
        .agg(
            (F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)) / F.count(F.lit(1))).alias("frac")
        )
    )
    return (
        docs.join(frac, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.coalesce("frac", F.lit(0.0))), R).alias("avg_boilerplate"),
        )
        .orderBy("source")
    )


def _semantic_dedup_oracle(dim: int = 64, n_bits: int = 6, seed: int = 7, tau: float = 0.45) -> str:
    """DuckDB twin of similarity.semantic_dedup, exact: renders the SAME
    Rademacher planes as SQL literals, recomputes the one-table cell
    signature, the within-cell lower-id pairs, and the fold-ordered
    cosines (reduce over list_transform = Spark's aggregate/zip_with
    left fold, so threshold decisions at >= tau agree bit-for-bit),
    then resolves each dropped id to its smallest qualifying exemplar."""
    planes = similarity.rademacher_planes(seed, n_bits, dim)

    def plane_lit(p: list[float]) -> str:
        return "[" + ",".join("1.0" if x > 0 else "-1.0" for x in p) + "]"

    def dot_plane(vec: str, p: list[float]) -> str:
        return (
            f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
            f"__i -> {vec}[__i] * ({plane_lit(p)}::DOUBLE[])[__i])), (__a, __x) -> __a + __x)"
        )

    sig = (
        "("
        + " + ".join(
            f"CASE WHEN {dot_plane('vec', planes[b])} >= 0.0 THEN {1 << b} ELSE 0 END"
            for b in range(n_bits)
        )
        + ")::BIGINT"
    )
    dot_ab = (
        f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
        f"__i -> a.vec[__i] * b.vec[__i])), (__a, __x) -> __a + __x)"
    )

    def norm(vec: str) -> str:
        return (
            f"sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform({vec}, __e -> __e * __e)), "
            f"(__a, __x) -> __a + __x))"
        )

    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
s AS (SELECT vec_id, vec, {sig} AS sig FROM v),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {dot_ab} / ({norm('a.vec')} * {norm('b.vec')}) AS cosine
  FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
),
hits AS (
  SELECT id_b, id_a, cosine,
         ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
  FROM pairs WHERE cosine >= {tau}
)
SELECT id_b AS vec_id, id_a AS exemplar, ROUND(cosine, {R}) AS cos
FROM hits WHERE rn = 1
ORDER BY vec_id
"""


@register(
    "dedup_semantic",
    oracle=_semantic_dedup_oracle(),
    bench=True,
    doc="SemDeDup tier (Abbas et al. 2023): deterministic sign-LSH cells "
    "bound the pair expansion (sum |cell|^2, never n^2), within-cell "
    "cosine >= 0.45 drops all but the lowest-id member of each duplicate "
    "chain. Exactly oracled: cells, pairs, and fold-ordered cosines are "
    "recomputed in DuckDB from the same literal planes. Distinct from "
    "dedup_embedding_cosine (the exact all-pairs CONTRACT tier): this is "
    "the scale path WITH resolution to a kept exemplar.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    out = similarity.semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", dim=64, threshold=0.45, n_bits=6, seed=7
    )
    return out.select("vec_id", "exemplar", F.round("cosine", R).alias("cos")).orderBy("vec_id")


@register(
    "text_chunk_overlap",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
starts AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM toks
)
SELECT doc_id,
  CAST(start // 24 AS INT) AS chunk_idx,
  CAST(LEAST(32, len(toks) - start) AS INT) AS chunk_len,
  array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
FROM starts
ORDER BY doc_id, chunk_idx
""",
    doc="context-window chunking with overlap (32-token windows every 24 "
    "tokens): the RAG/pretraining chunk-split step as pure array "
    "intrinsics -- no shuffle, no Python; short final chunks kept unpadded.",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import packing

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return packing.chunk_with_overlap(docs, "doc_id", "text", window=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


@register(
    "embed_label_cohesion",
    oracle=f"""
WITH e AS (SELECT label, vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
u AS (
  SELECT label, unnest(vec) AS val, unnest(range(1, len(vec) + 1)) AS idx FROM e
),
c AS (
  SELECT label, array_agg(avgval ORDER BY idx) AS centroid
  FROM (SELECT label, idx, AVG(val) AS avgval FROM u GROUP BY label, idx)
  GROUP BY label
)
SELECT e.label, COUNT(*) AS n_vectors,
  ROUND(AVG(
    reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), __i -> e.vec[__i] * c.centroid[__i])), (__a, __x) -> __a + __x)
    / (sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform(e.vec, __e -> __e * __e)), (__a, __x) -> __a + __x))
     * sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform(c.centroid, __e -> __e * __e)), (__a, __x) -> __a + __x)))
  ), {R}) AS avg_cos
FROM e JOIN c ON e.label = c.label
GROUP BY e.label
ORDER BY e.label
""",
    doc="per-label embedding cohesion report: elementwise mean vector per "
    "label (posexplode + two-stage agg -- the vectorized kmeans-update "
    "shape, NOT dim separate F.sum aggregates), then mean cosine of each "
    "member to its centroid. Cluster-quality/drift diagnostic for "
    "embedding pipelines; shuffle volume is n*dim doubles map-side-"
    "combined to labels*dim per partition.",
)
def embed_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = F.col("embedding").cast("array<double>")
    cents = (
        emb.select("label", F.posexplode(v).alias("_d", "_x"))
        .groupBy("label", "_d")
        .agg(F.avg("_x").alias("_m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_d", "_m"))), lambda s: s["_m"]
            ).alias("_centroid")
        )
    )
    joined = emb.select("label", v.alias("_v")).join(F.broadcast(cents), "label")
    cos = similarity.dot(F.col("_v"), F.col("_centroid")) / (
        similarity.l2_norm(F.col("_v")) * similarity.l2_norm(F.col("_centroid"))
    )
    return (
        joined.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.round(F.avg(cos), R).alias("avg_cos"))
        .orderBy("label")
    )


def _cdc_oracle(mask_bits: int = 3) -> str:
    """DuckDB twin of dedup.cdc_chunks + cross-doc rollup: per-token
    XXH64 via the generated SQL expression, unsigned % 2^bits boundary
    test (== the Spark side's signed & mask on the low bits), identical
    span construction, then the multi-token repeated-chunk report."""
    h = osql.xxh64_unsigned_sql("__t")
    m = 1 << mask_bits
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
hh AS (SELECT doc_id, toks, [{h} for __t in toks] AS us FROM t),
b AS (
  SELECT doc_id, toks,
         list_filter(range(1, len(toks)), __i -> us[__i] % {m} = 0) AS bnds
  FROM hh
),
spans AS (
  SELECT doc_id, toks, list_prepend(0, bnds) AS starts, list_append(bnds, len(toks)) AS ends
  FROM b
),
chunks AS (
  SELECT doc_id, unnest(range(1, len(starts) + 1)) AS ci, toks, starts, ends FROM spans
),
ctext AS (
  SELECT doc_id, array_to_string(toks[starts[ci] + 1 : ends[ci]], ' ') AS chunk_text,
         ends[ci] - starts[ci] AS n_tok
  FROM chunks
)
SELECT chunk_text, CAST(max(n_tok) AS INT) AS n_tok,
       count(DISTINCT doc_id) AS n_docs, count(*) AS n_inst
FROM ctext
GROUP BY chunk_text
HAVING count(DISTINCT doc_id) > 1 AND max(n_tok) >= 2
ORDER BY n_docs DESC, n_inst DESC, chunk_text
LIMIT 30
"""


@register(
    "dedup_cdc_chunks",
    oracle=_cdc_oracle(),
    doc="content-defined chunking dedup (FastCDC-style): hash-gated "
    "token boundaries (expected chunk 8 tokens) re-synchronize after "
    "edits, unlike fixed windows; report = top multi-token chunks "
    "repeated across documents. Exactly oracled via the generated-SQL "
    "XXH64 boundary test; at scale the rollup keys on the 8-byte "
    "chunk_hash, not text (text kept here for the oracle compare).",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import dedup

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    chunks = dedup.cdc_chunks(docs, "doc_id", "text", mask_bits=3)
    return (
        chunks.groupBy("chunk_text")
        .agg(
            F.max("n_tok").cast("int").alias("n_tok"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_inst"),
        )
        .filter((F.col("n_docs") > 1) & (F.col("n_tok") >= 2))
        .select("chunk_text", "n_tok", "n_docs", "n_inst")
        .orderBy(F.col("n_docs").desc(), F.col("n_inst").desc(), "chunk_text")
        .limit(30)
    )


def _model_score_oracle() -> str:
    """DuckDB twin of filtering.linear_quality_score rollup; exp() ulp
    drift across libms is absorbed by the ROUND on the mean and by the
    threshold margin (a score exactly at the cut is measure-zero)."""
    return f"""
WITH f AS (
  SELECT source, {_quality_z_sql()} AS z
  FROM documents
),
s AS (SELECT source, 1.0 / (1.0 + exp(-z)) AS score FROM f)
SELECT source, count(*) AS n_docs,
       CAST(SUM(CASE WHEN score >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(AVG(score), {R}) AS avg_score
FROM s GROUP BY source ORDER BY source
"""


@register(
    "filter_model_score",
    oracle=_model_score_oracle(),
    doc="model-based quality filtering (FineWeb-Edu-style classifier "
    "inference, the model made deterministic): logistic score over "
    "codegen'd features (log-tokens, type-token ratio, stopword ratio, "
    "mean token length) with literal weights, threshold routing at 0.8 (the split point of this corpus's score mass); "
    "per-source keep accounting. The plumbing -- features in scan "
    "codegen, score as arithmetic, no Python -- is exactly what an "
    "exported real linear model needs at 100 TB.",
)
def filter_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    score = filtering.linear_quality_score(F.col("text"))
    return (
        docs.withColumn("_score", score)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_score") >= 0.8, 1).otherwise(0)).alias("n_kept"),
            F.round(F.avg("_score"), R).alias("avg_score"),
        )
        .orderBy("source")
    )


def _corpus_v2_oracle(dim: int = 64, n_bits: int = 6, seed: int = 7, tau: float = 0.45) -> str:
    """DuckDB twin of corpus_build_v2: exact dedup (normalized-text
    winner), model-score gate at 0.8 (same feature/weight literals as
    filter_model_score), semantic-dedup drop set recomputed from the
    same literal planes, then the per-source rollup."""
    toks = "list_filter(regexp_split_to_array(trim(text), '\\s+'), __t -> __t != '')"
    planes = similarity.rademacher_planes(seed, n_bits, dim)

    def plane_lit(p: list[float]) -> str:
        return "[" + ",".join("1.0" if x > 0 else "-1.0" for x in p) + "]"

    def dot_plane(vec: str, p: list[float]) -> str:
        return (
            f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
            f"__i -> {vec}[__i] * ({plane_lit(p)}::DOUBLE[])[__i])), (__a, __x) -> __a + __x)"
        )

    sig = (
        "("
        + " + ".join(
            f"CASE WHEN {dot_plane('vec', planes[b])} >= 0.0 THEN {1 << b} ELSE 0 END"
            for b in range(n_bits)
        )
        + ")::BIGINT"
    )
    dot_ab = (
        f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
        f"__i -> a.vec[__i] * b.vec[__i])), (__a, __x) -> __a + __x)"
    )

    def norm(vec: str) -> str:
        return (
            f"sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform({vec}, __e -> __e * __e)), "
            f"(__a, __x) -> __a + __x))"
        )

    return f"""
WITH f AS (
  SELECT doc_id, source,
    len({toks}) AS n_tok,
    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
    1.0 / (1.0 + exp(-({_quality_z_sql()}))) AS score
  FROM documents
),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn FROM f
  ) WHERE rn = 1 AND score >= 0.8
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
s AS (SELECT vec_id, vec, {sig} AS sig FROM v),
sem_dropped AS (
  SELECT DISTINCT b.vec_id
  FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE {dot_ab} / ({norm('a.vec')} * {norm('b.vec')}) >= {tau}
)
SELECT source, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM dedup d
WHERE NOT EXISTS (SELECT 1 FROM sem_dropped sd WHERE sd.vec_id = d.doc_id)
GROUP BY source ORDER BY source
"""


@register(
    "corpus_build_v2",
    oracle=_corpus_v2_oracle(),
    doc="corpus build v2 -- the r04 composite: exact dedup (earliest doc "
    "per normalized text) -> model-score gate at 0.8 (classifier-"
    "inference stage) -> semantic-dedup drop set (LSH-cell SemDeDup over "
    "the paired embeddings, anti-joined on id) -> per-source doc/token "
    "accounting. Signals computed once pre-shuffle; the dedup window and "
    "final rollup move small columns only; the semantic drop set joins "
    "as an 8-byte anti-join probe.",
)
def corpus_build_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.filtering import linear_quality_score
    from testlog_etl_spark.util import spread

    docs = spread(load_tables(spark, sf_dir, ("documents",))["documents"])
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    sig = docs.select(
        "doc_id",
        "source",
        textstats.token_count(F.col("text")).alias("n_tok"),
        textstats.fingerprint(F.col("text")).alias("fp"),
        linear_quality_score(F.col("text")).alias("score"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = sig.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("score") >= 0.8)
    )
    sem_dropped = similarity.semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", dim=64, threshold=0.45, n_bits=6, seed=7
    ).select("vec_id")
    final = kept.join(sem_dropped, F.col("doc_id") == F.col("vec_id"), "left_anti")
    return (
        final.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .orderBy("source")
    )


@register(
    "text_bigram_lm",
    doc="bigram LM table (KenLM-flavor, add-1 smoothing over the "
    "observed-unigram vocab): P(w2|w1) for the 30 most frequent "
    "bigrams. Adjacent pairs form row-local via zip_with (no explode "
    "of n^2); one (w1, w2) rollup plus an AQE-selected unigram join (vocab scales -- no forced broadcast); "
    "counts are integers so the smoothed ratio is engine-exact before "
    "rounding.",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(trim(text), ' '), t -> t <> '') AS w FROM documents
),
big AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
  FROM toks WHERE len(w) >= 2
),
bc AS (
  SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2,
         count(*) AS n_big
  FROM big GROUP BY 1, 2
),
uni AS (
  SELECT w1, count(*) AS n_uni FROM (SELECT unnest(w) AS w1 FROM toks) GROUP BY w1
),
vocab AS (SELECT count(DISTINCT w1) AS v FROM uni)
SELECT bc.w1, bc.w2, n_big,
       ROUND((n_big + 1.0) / (uni.n_uni + vocab.v), 6) AS p_smoothed
FROM bc JOIN uni ON uni.w1 = bc.w1, vocab
ORDER BY n_big DESC, bc.w1, bc.w2
LIMIT 30
""",
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = textstats.tokens(F.col("text"))
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    uni = (
        docs.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("n_uni"))
    )
    vocab = uni.agg(F.count_distinct("w1").alias("v"))
    return (
        # unigram table scales with vocabulary (millions of terms on web
        # text): no forced broadcast -- AQE picks while it fits
        big.join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "n_big",
            F.round((F.col("n_big") + F.lit(1.0)) / (F.col("n_uni") + F.col("v")), 6).alias("p_smoothed"),
        )
        .orderBy(F.col("n_big").desc(), "w1", "w2")
        .limit(30)
    )


@register(
    "embed_hard_negatives",
    doc="contrastive hard-negative mining (operators/similarity.py::"
    "hard_negatives): for 20 anchors, the 3 most-similar vectors with a "
    "DIFFERENT label -- broadcast anchors over one corpus scan, "
    "cross-label filter BEFORE the per-anchor rank.",
    oracle=f"""
SELECT r.qid AS q_id, r.cid AS c_id, r.neg_label, r.cos, r.rank
FROM (
  SELECT q.vec_id AS qid, c.vec_id AS cid, c.label AS neg_label,
         ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), {R}) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                    c.vec_id
         ) AS rank
  FROM embeddings q
  JOIN embeddings c ON q.vec_id <> c.vec_id AND q.label <> c.label
  WHERE q.vec_id < 20
) r
WHERE rank <= 3
ORDER BY q_id, rank
""",
)
def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    anchors = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_vec"),
    )
    out = similarity.hard_negatives(anchors, corpus, k=3)
    return out.select(
        "q_id", "c_id", "neg_label", F.round("cosine", R).alias("cos"), "rank"
    ).orderBy("q_id", "rank")


@register(
    "corpus_epoch_shuffle",
    doc="deterministic per-epoch training-order shuffle + sharding "
    "(operators/sampling.py::epoch_shuffle): shard + in-shard position "
    "from a salted md5 -- no RNG, no global sort; one hash exchange + "
    "per-shard sort, the exact physical work of writing the shards.",
    oracle="""
SELECT doc_id, shard, pos
FROM (
  SELECT doc_id,
         CAST(skey % 4 AS INT) AS shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY skey % 4 ORDER BY skey, doc_id) AS BIGINT) AS pos
  FROM (
    SELECT doc_id,
           try_cast(('0x' || substr(md5(doc_id::VARCHAR || ':e1:0'), 1, 15)) AS BIGINT) AS skey
    FROM documents
  )
)
ORDER BY shard, pos
""",
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = sampling.epoch_shuffle(docs, "doc_id", n_shards=4, epoch=1)
    return out.select("doc_id", "shard", F.col("pos").cast("long").alias("pos")).orderBy(
        "shard", "pos"
    )


@register(
    "dedup_hamming_prefix",
    doc="exact fuzzy self-join (operators/neardup.py::hamming_join): "
    "doc pairs whose 64-char padded prefixes are within Hamming "
    "distance 4, via PassJoin-style pigeonhole chunk blocking (5 exact "
    "chunks; no false negatives, no all-pairs) and a positionwise "
    "codegen verify. The oracle states the contract with DuckDB's "
    "native hamming() over the O(n^2) pair scan.",
    bench=True,
    oracle="""
WITH p AS (
  SELECT doc_id, rpad(substr(text, 1, 64), 64, ' ') AS pre FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(hamming(a.pre, b.pre) AS INT) AS dist
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE hamming(a.pre, b.pre) <= 4
ORDER BY a_id, b_id
""",
)
def dedup_hamming_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    keyed = docs.select(
        "doc_id", F.rpad(F.substring("text", 1, 64), 64, " ").alias("prefix")
    )
    out = neardup.hamming_join(keyed, "doc_id", "prefix", length=64, max_dist=4)
    return out.orderBy("a_id", "b_id")


@register(
    "corpus_manifest_build",
    doc="the training-data endgame composed end-to-end: epoch shuffle "
    "-> shard -> sequence-pack offsets, one manifest row per document "
    "(shard, position, first-token offset, first sequence index at "
    "seq_len=512). Physically: the epoch_shuffle hash exchange + ONE "
    "per-shard window (shards ~= write parallelism, so the window "
    "partitions ARE the intended units of work). The manifest is what "
    "a dataloader needs to stream any shard independently.",
    oracle="""
SELECT doc_id, shard, pos, tok_start,
       CAST(tok_start // 512 AS BIGINT) AS seq_idx
FROM (
  SELECT doc_id, shard, pos,
         CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY skey, doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS tok_start
  FROM (
    SELECT doc_id,
           CAST(skey % 4 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY skey % 4 ORDER BY skey, doc_id) AS BIGINT) AS pos,
           skey,
           len(string_split(text, ' ')) AS n_tok
    FROM (
      SELECT doc_id, text,
             try_cast(('0x' || substr(md5(doc_id::VARCHAR || ':e1:0'), 1, 15)) AS BIGINT) AS skey
      FROM documents
    )
  )
)
ORDER BY shard, pos
""",
)
def corpus_manifest_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    with_tok = docs.withColumn("n_tok", F.size(F.split("text", " ")).cast("long"))
    shuffled = sampling.epoch_shuffle(with_tok, "doc_id", n_shards=4, epoch=1)
    # re-derive the shuffle key for the in-shard pack order (epoch_shuffle
    # drops it); same salted md5, pure projection
    skey = sampling.shuffle_key(F.col("doc_id"), epoch=1)
    w = Window.partitionBy("shard").orderBy(skey, "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        shuffled.withColumn("tok_start", (F.sum("n_tok").over(w) - F.col("n_tok")).cast("long"))
        .select(
            "doc_id",
            "shard",
            F.col("pos").cast("long").alias("pos"),
            "tok_start",
            F.floor(F.col("tok_start") / 512).cast("long").alias("seq_idx"),
        )
        .orderBy("shard", "pos")
    )


@register(
    "dedup_entity_resolution",
    doc="entity resolution composed from EXACT verified tiers: Hamming "
    "fuzzy join on padded 64-char prefixes (pigeonhole blocking, no "
    "recall luck) -> distributed connected components (min-label + "
    "pointer jumping) -> canonical entity id per non-singleton doc. "
    "Unlike the LSH-based group resolve, every stage here is exact, so "
    "the recursive-CTE oracle is a contract, not an approximation "
    "match.",
    oracle="""
WITH RECURSIVE
p AS (SELECT doc_id, rpad(substr(text, 1, 64), 64, ' ') AS pre FROM documents),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM p a JOIN p b ON a.doc_id < b.doc_id
  WHERE hamming(a.pre, b.pre) <= 4
),
sym AS (SELECT src AS a, dst AS b FROM pairs UNION ALL SELECT dst AS a, src AS b FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
),
comp AS (SELECT id, MIN(r) AS entity_id FROM reach GROUP BY id)
SELECT id AS doc_id, entity_id FROM comp ORDER BY doc_id
""",
)
def dedup_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import dupgroups

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    keyed = docs.select("doc_id", F.rpad(F.substring("text", 1, 64), 64, " ").alias("prefix"))
    pairs = (
        neardup.hamming_join(keyed, "doc_id", "prefix", length=64, max_dist=4)
        .select(F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"))
    )
    g = dupgroups.dup_groups(docs, pairs, "doc_id")
    # non-singleton entities only (the oracle's component table contains
    # exactly the docs that appear in some pair)
    sizes = g.groupBy("group_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        g.join(sizes, "group_id")
        .filter(F.col("_n") >= 2)
        .select("doc_id", F.col("group_id").alias("entity_id"))
        .orderBy("doc_id")
    )


@register(
    "sample_weighted_exact_k",
    doc="exact-k weighted sampling without replacement per source "
    "(A-ExpJ restated: key = snapped ln(u)/weight from the id's md5, "
    "top-k by key -- operators/sampling.py::weighted_exact_k). "
    "Inclusion odds scale with doc length (n_chars); sticky per id, "
    "no RNG; ranking rides grouped_topk's k-bounded WindowGroupLimit.",
    oracle="""
SELECT source, rank, doc_id
FROM (
  SELECT source, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY skey DESC, doc_id) AS INT) AS rank
  FROM (
    SELECT source, doc_id,
           floor((ln((try_cast(('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 15)) AS BIGINT) % 1048576 + 0.5) / 1048576.0)
                  / n_chars) * 1048576 + 0.5) / 1048576 AS skey
    FROM documents
    WHERE n_chars > 0
  )
)
WHERE rank <= 5
ORDER BY source, rank
""",
)
def sample_weighted_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = sampling.weighted_exact_k(docs, "source", "doc_id", "n_chars", k=5)
    return out.select("source", "rank", "doc_id").orderBy("source", "rank")


@register(
    "text_readability",
    doc="readability scoring (Flesch-style, heuristic syllables = "
    "vowel-group count): words/sentences/syllables per doc from two "
    "regex counts + a split -- pure codegen string ops, no shuffle "
    "until the per-source rollup. The score formula is the standard "
    "206.835 - 1.015*(words/sentences) - 84.6*(syllables/words), "
    "computed on BOTH engines from identical counts.",
    oracle="""
WITH d AS (
  SELECT source,
         len(string_split(text, ' '))::DOUBLE AS words,
         greatest(1, len(regexp_extract_all(text, '[.!?]')))::DOUBLE AS sentences,
         greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))::DOUBLE AS syllables
  FROM documents
)
SELECT source, count(*) AS n_docs,
       ROUND(AVG(206.835 - 1.015 * (words / sentences) - 84.6 * (syllables / words)), 4) AS avg_flesch,
       ROUND(AVG(words / sentences), 4) AS avg_sentence_len,
       ROUND(AVG(syllables / words), 4) AS avg_syllables_per_word
FROM d GROUP BY source ORDER BY source
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = F.size(F.split("text", " ")).cast("double")
    sentences = F.greatest(F.lit(1), F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)"))).cast(
        "double"
    )
    syllables = F.greatest(
        F.lit(1), F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    ).cast("double")
    d = docs.select(
        "source",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words") / F.col("sentences"))
        - F.lit(84.6) * (F.col("syllables") / F.col("words"))
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(flesch), R).alias("avg_flesch"),
            F.round(F.avg(F.col("words") / F.col("sentences")), R).alias("avg_sentence_len"),
            F.round(F.avg(F.col("syllables") / F.col("words")), R).alias("avg_syllables_per_word"),
        )
        .orderBy("source")
    )


@register(
    "eval_langid_metrics",
    doc="model-evaluation layer over the langid heuristic: per-class "
    "precision / recall / F1 from the (true, predicted) confusion "
    "counts (text_langid is the raw matrix; this is the metrics "
    "readout). Classes the predictor never emits get null precision; "
    "0-recall classes stay 0 -- null semantics identical on both "
    "engines.",
    oracle=_LANGID_PRED_SQL
    + """
, m AS (
  SELECT l.lang,
         (SELECT count(*) FROM p WHERE p.lang = l.lang AND p.predicted = l.lang)::DOUBLE AS tp,
         (SELECT count(*) FROM p WHERE p.predicted = l.lang AND p.lang <> l.lang)::DOUBLE AS fp,
         (SELECT count(*) FROM p WHERE p.lang = l.lang AND p.predicted <> l.lang)::DOUBLE AS fn
  FROM (SELECT DISTINCT lang FROM documents) l
)
SELECT lang,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       ROUND(tp / nullif(tp + fp, 0), 4) AS precision,
       ROUND(tp / nullif(tp + fn, 0), 4) AS recall,
       ROUND(2 * tp / nullif(2 * tp + fp + fn, 0), 4) AS f1
FROM m ORDER BY lang
""",
)
def eval_langid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    p = docs.select("lang", textstats.lang_id(F.col("text")).alias("predicted"))
    per = p.groupBy("lang").agg(
        F.sum(F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0))
        .cast("double")
        .alias("tp"),
        F.count(F.lit(1)).cast("double").alias("n_true"),
    )
    pred_tot = p.groupBy(F.col("predicted").alias("lang")).agg(
        F.count(F.lit(1)).cast("double").alias("n_pred")
    )
    m = (
        per.join(pred_tot, "lang", "left")
        .withColumn("fp", F.coalesce(F.col("n_pred"), F.lit(0.0)) - F.col("tp"))
        .withColumn("fn", F.col("n_true") - F.col("tp"))
    )
    nz = lambda c: F.when(c != 0, c)  # noqa: E731 -- nullif
    return m.select(
        "lang",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.round(F.col("tp") / nz(F.col("tp") + F.col("fp")), R).alias("precision"),
        F.round(F.col("tp") / nz(F.col("tp") + F.col("fn")), R).alias("recall"),
        F.round(2 * F.col("tp") / nz(2 * F.col("tp") + F.col("fp") + F.col("fn")), R).alias("f1"),
    ).orderBy("lang")


@register(
    "corpus_token_budget",
    doc="token-budget corpus selection: fill a fixed token budget with "
    "the best-scored docs (rank by model score desc, keep the prefix "
    "whose cumulative token count fits -- the 'best 1T tokens' "
    "construction step). Ordering uses the 2^-20-snapped logistic "
    "score (the eval_score_auc pairing, bit-identical cross-engine) "
    "with doc_id tie-break; the cumulative count runs through the "
    "operators/scan.py hierarchical scan because the doc grain SCALES "
    "(an unpartitioned window here is exactly what window_lint "
    "forbids). Token counts are integral, so the budget boundary "
    "cannot drift.",
    oracle=f"""
WITH sc AS (
  SELECT source, doc_id,
         floor((1.0 / (1.0 + exp(-({_quality_z_sql()})))) * 1048576 + 0.5) / 1048576 AS s,
         len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS n_tok
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
c AS (
  SELECT source, s, n_tok,
         SUM(n_tok) OVER (ORDER BY s DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM sc
)
SELECT source, count(*) AS n_kept, CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
       ROUND(AVG(s), 6) AS avg_score
FROM c WHERE cum <= 50000 GROUP BY source ORDER BY source
""",
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    g = F.lit(float(1 << 20))
    snapped = F.floor(filtering.linear_quality_score(F.col("text")) * g + F.lit(0.5)) / g
    base = docs.select(
        "source", "doc_id", snapped.alias("s"), textstats.token_count(F.col("text")).alias("n_tok")
    )
    c = global_scan(base, [ScanSpec(("s desc", "doc_id"), val="n_tok", cum="cum")])
    return (
        c.filter(F.col("cum") <= 50000)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
            F.round(F.avg("s"), 6).alias("avg_score"),
        )
        .orderBy("source")
    )


def _score_auc_oracle() -> str:
    """DuckDB twin of eval_score_auc: the shared z spelling
    (_quality_z_sql -- same weight literals and tokenization as the
    Spark operator) with the 2^-20 snap, then tie-averaged Mann-Whitney
    rank arithmetic over distinct snapped scores. Both sides restrict
    to non-empty text: empty/null docs have no defined quality score,
    and the engines' empty-aggregate conventions differ (NULL vs 0)."""
    return f"""
WITH sc AS (
  SELECT floor((1.0 / (1.0 + exp(-({_quality_z_sql()})))) * 1048576 + 0.5) / 1048576 AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
g AS (
  SELECT s, SUM(y)::DOUBLE AS np, SUM(1 - y)::DOUBLE AS nn FROM sc GROUP BY s
),
r AS (
  SELECT s, np, nn,
         COALESCE(SUM(np + nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         np + nn AS k
  FROM g
),
t AS (
  SELECT SUM(np * (cb + (k + 1) / 2.0)) AS pos_rank_sum,
         SUM(np) AS tot_p, SUM(nn) AS tot_n
  FROM r
)
SELECT CAST(tot_p AS BIGINT) AS n_pos, CAST(tot_n AS BIGINT) AS n_neg,
       ROUND((pos_rank_sum - tot_p * (tot_p + 1) / 2.0) / (tot_p * tot_n), 4) AS auc
FROM t
"""


@register(
    "eval_score_auc",
    doc="exact AUC (Mann-Whitney with tie-averaged ranks) of the "
    "quality-score model against the is-English label: scores snapped "
    "to the 2^-20 grid on both engines (absorbing libm exp ulps, the "
    "IVF playbook), then grouped PER DISTINCT SCORE so rank arithmetic "
    "is tie-proof -- cumulative counts over the distinct-score frame, "
    "never a row-level rank. The ranking window runs over distinct "
    "snapped scores (grid-bounded); at extreme cardinality use the "
    "histogram-sketch AUC instead.",
    oracle=_score_auc_oracle(),
)
def eval_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    g = F.lit(float(1 << 20))
    snapped = F.floor(filtering.linear_quality_score(F.col("text")) * g + F.lit(0.5)) / g
    sc = docs.select(
        snapped.alias("s"), (F.col("lang") == "en").cast("int").alias("y")
    )
    grp = sc.groupBy("s").agg(
        F.sum("y").cast("double").alias("np"),
        F.sum(1 - F.col("y")).cast("double").alias("nn"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    r = grp.withColumn("cb", F.coalesce(F.sum(F.col("np") + F.col("nn")).over(w), F.lit(0.0)))
    t = r.agg(
        F.sum(F.col("np") * (F.col("cb") + (F.col("np") + F.col("nn") + 1) / 2.0)).alias(
            "pos_rank_sum"
        ),
        F.sum("np").alias("tot_p"),
        F.sum("nn").alias("tot_n"),
    )
    return t.select(
        F.col("tot_p").cast("long").alias("n_pos"),
        F.col("tot_n").cast("long").alias("n_neg"),
        F.round(
            (F.col("pos_rank_sum") - F.col("tot_p") * (F.col("tot_p") + 1) / 2.0)
            / (F.col("tot_p") * F.col("tot_n")),
            4,
        ).alias("auc"),
    )


@register(
    "corpus_report_card",
    doc="the corpus health one-pager, per source: docs, token mass, "
    "mean quality score, exact-duplicate rate (share of docs whose "
    "normalized text occurs more than once corpus-wide), and English "
    "share per the langid heuristic. Every signal reuses an "
    "already-oracled idiom (tokens(), _quality_z_sql, normalized-text "
    "fingerprints, lang_id); signals are computed in ONE scan lineage "
    "-- the dup-rate join carries 8-byte hashes.",
    oracle=f"""
WITH base AS (
  SELECT source,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), __t -> __t != '')) AS n_tok,
         1.0 / (1.0 + exp(-({{z}}))) AS score,
         hash(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '') AS lt
  FROM documents
),
dup AS (SELECT fp, count(*) AS k FROM base GROUP BY fp),
b2 AS (
  SELECT base.*,
         (len(list_filter(lt, t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], t)))::DOUBLE
          / greatest(len(lt), 1)) >= 0.03 AS en_hit
  FROM base
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       ROUND(AVG(score), 4) AS mean_quality,
       ROUND(SUM(CASE WHEN dup.k > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_rate,
       ROUND(SUM(CASE WHEN en_hit THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS en_signal_share
FROM b2 JOIN dup ON b2.fp = dup.fp
GROUP BY source ORDER BY source
""".replace("{{z}}", "{z}").format(z=_quality_z_sql()),
)
def corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = textstats.tokens(F.col("text"))
    en_ratio = (
        F.size(
            F.filter(
                textstats.tokens(F.lower(F.col("text"))),
                lambda t: t.isin(
                    ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]
                ),
            )
        )
        / F.greatest(F.size(textstats.tokens(F.lower(F.col("text")))), F.lit(1))
    )
    base = docs.select(
        "source",
        F.size(toks).alias("n_tok"),
        filtering.linear_quality_score(F.col("text")).alias("score"),
        F.xxhash64(textstats.normalized_text(F.col("text"))).alias("fp"),
        (en_ratio >= 0.03).alias("en_hit"),
    )
    dup = base.groupBy("fp").agg(F.count(F.lit(1)).alias("k"))
    return (
        base.join(dup, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.round(F.avg("score"), 4).alias("mean_quality"),
            F.round(
                F.sum(F.when(F.col("k") > 1, 1).otherwise(0)) / F.count(F.lit(1)), 4
            ).alias("dup_rate"),
            F.round(
                F.sum(F.when(F.col("en_hit"), 1).otherwise(0)) / F.count(F.lit(1)), 4
            ).alias("en_signal_share"),
        )
        .orderBy("source")
    )


@register(
    "dedup_sorted_tokens",
    doc="bag-of-words duplicate tier: fingerprint = hash of the SORTED "
    "token list, so reordered-word copies collapse where the "
    "normalized-text tier (order-sensitive) cannot. Same 8-byte-hash "
    "discipline; output is the (group size, #groups) histogram plus "
    "how many groups the order-sensitive tier would MISS (pure "
    "reorderings).",
    oracle="""
WITH f AS (
  SELECT doc_id,
         hash(array_to_string(list_sort(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')), ' ')) AS bag_fp,
         hash(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS txt_fp
  FROM documents
),
g AS (
  SELECT bag_fp, count(*) AS group_size, count(DISTINCT txt_fp) AS n_orderings
  FROM f GROUP BY bag_fp
)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_orderings > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_reordered_groups
FROM g GROUP BY group_size ORDER BY group_size
""",
)
def dedup_sorted_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bag = F.xxhash64(
        F.array_join(F.array_sort(textstats.tokens(F.lower(F.col("text")))), " ")
    )
    txt = F.xxhash64(textstats.normalized_text(F.col("text")))
    f = docs.select(bag.alias("bag_fp"), txt.alias("txt_fp"))
    g = f.groupBy("bag_fp").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.count_distinct("txt_fp").alias("n_orderings"),
    )
    return (
        g.groupBy("group_size")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("n_orderings") > 1, 1).otherwise(0)).alias("n_reordered_groups"),
        )
        .orderBy("group_size")
    )


@register(
    "text_vocab_growth",
    doc="Heaps'-law vocabulary growth: cumulative distinct vocabulary "
    "as the corpus is consumed in doc_id order, sampled per 100-doc "
    "bucket. Each token contributes at its FIRST-occurrence doc (one "
    "min-aggregate on the token hash -- the corpus-size shuffle "
    "carries 8-byte hashes), then a cumulative window over the tiny "
    "bucket frame.",
    oracle="""
WITH firsts AS (
  SELECT min(doc_id) AS first_doc
  FROM (
    SELECT doc_id, unnest(list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != ''))) AS tok
    FROM documents
  )
  GROUP BY tok
),
b AS (
  SELECT CAST(first_doc // 100 AS BIGINT) AS bucket, count(*)::BIGINT AS new_terms
  FROM firsts GROUP BY bucket
)
SELECT bucket, new_terms,
       CAST(SUM(new_terms) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
FROM b ORDER BY bucket
""",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(textstats.tokens(F.lower(F.col("text"))))).alias("tok"),
    )
    firsts = toks.groupBy(F.xxhash64("tok").alias("th")).agg(F.min("doc_id").alias("first_doc"))
    b = firsts.groupBy(F.floor(F.col("first_doc") / 100).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    # cumulative vocab via the hierarchical scan: the bucket grain is
    # first_doc/100, which SCALES with the corpus (tens of millions of
    # buckets at 100 TB) -- an unpartitioned window would put them all
    # in one task (window_lint r05 catch)
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    return (
        global_scan(b, [ScanSpec(("bucket",), val="new_terms", cum="_cum")])
        .select("bucket", "new_terms", F.col("_cum").cast("long").alias("vocab_size"))
        .orderBy("bucket")
    )


@register(
    "text_zipf_fit",
    doc="Zipf-law fit: least-squares slope of log(freq) vs log(rank) "
    "over the top-100 terms (rank ties broken by term so both engines "
    "order identically). Closed-form regression from the four "
    "sufficient sums over a 100-row frame; the term-count rollup is "
    "the only corpus-scale shuffle.",
    oracle=f"""
WITH tc AS (
  SELECT tok, count(*)::DOUBLE AS freq
  FROM (
    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')) AS tok
    FROM documents
  ) GROUP BY tok
),
top AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
  FROM tc ORDER BY freq DESC, tok LIMIT 100
),
l AS (SELECT ln(rank) AS x, ln(freq) AS y FROM top),
s AS (SELECT count(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy FROM l)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), {R}) AS zipf_slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, {R}) AS intercept
FROM s
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = (
        docs.select(F.explode(textstats.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
    )
    top = (
        tc.orderBy(F.col("freq").desc(), "tok")
        .limit(100)
        .withColumn("rank", F.row_number().over(Window.orderBy(F.col("freq").desc(), "tok")))
    )
    l = top.select(F.ln("rank").alias("x"), F.ln("freq").alias("y"))
    s = l.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, R).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), R).alias("intercept"),
    )


@register(
    "docs_template_extraction",
    doc="boilerplate template detection: the modal 32-char prefix per "
    "source and its share -- crawls with injected page chrome show a "
    "dominant template here. One (source, prefix-hash... prefix is 32 "
    "bytes, carried) rollup + max_by over the tiny per-source frame.",
    oracle="""
WITH p AS (
  SELECT source, substr(text, 1, 32) AS prefix, count(*) AS k
  FROM documents GROUP BY source, prefix
),
t AS (SELECT source, SUM(k) AS n FROM p GROUP BY source)
SELECT p.source AS source,
       arg_max(prefix, lpad(CAST(k AS VARCHAR), 12, '0') || prefix) AS modal_prefix,
       CAST(max(k) AS BIGINT) AS modal_count,
       ROUND(max(k) / any_value(n), 4) AS modal_share
FROM p JOIN t ON t.source = p.source
GROUP BY p.source ORDER BY source
""",
)
def docs_template_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    p = docs.groupBy("source", F.substring("text", 1, 32).alias("prefix")).agg(
        F.count(F.lit(1)).alias("k")
    )
    t = p.groupBy(F.col("source").alias("src")).agg(F.sum("k").cast("double").alias("n"))
    return (
        p.join(F.broadcast(t), F.col("source") == F.col("src"))
        .groupBy("source")
        .agg(
            F.max_by("prefix", F.concat(F.lpad(F.col("k").cast("string"), 12, "0"), F.col("prefix"))).alias("modal_prefix"),
            F.max("k").alias("modal_count"),
            F.round(F.max("k") / F.any_value("n"), 4).alias("modal_share"),
        )
        .orderBy("source")
    )


@register(
    "text_code_signal",
    doc="code-vs-prose detection signals (the pretraining code-filter "
    "heuristic): symbol density ({}();=<>[]), digit density, and "
    "indented-line share per doc, rolled up per source -- pure regex "
    "counts in scan codegen. Prose corpora read near zero; a code "
    "crawl lights up.",
    oracle="""
WITH d AS (
  SELECT source,
         len(regexp_extract_all(text, '[{}();=<>\\[\\]]'))::DOUBLE / greatest(length(text), 1) AS sym_density,
         len(regexp_extract_all(text, '[0-9]'))::DOUBLE / greatest(length(text), 1) AS digit_density,
         len(regexp_extract_all(text, '(^|\\n)(    |\\t)'))::DOUBLE
           / greatest(len(regexp_extract_all(text, '(^|\\n)')) , 1) AS indent_share
  FROM documents
)
SELECT source, count(*) AS n_docs,
       ROUND(AVG(sym_density), 4) AS avg_sym_density,
       ROUND(AVG(digit_density), 4) AS avg_digit_density,
       ROUND(AVG(indent_share), 4) AS avg_indent_share
FROM d GROUP BY source ORDER BY source
""",
)
def text_code_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    n_chars = F.greatest(F.length("text"), F.lit(1))
    sym = F.size(F.expr(r"regexp_extract_all(text, '[{}();=<>\\[\\]]', 0)")) / n_chars
    dig = F.size(F.expr("regexp_extract_all(text, '[0-9]', 0)")) / n_chars
    lines = F.greatest(F.size(F.expr(r"regexp_extract_all(text, '(^|\n)', 0)")), F.lit(1))
    indent = F.size(F.expr(r"regexp_extract_all(text, '(^|\n)(    |\t)', 0)")) / lines
    d = docs.select(
        "source",
        sym.alias("sym_density"),
        dig.alias("digit_density"),
        indent.alias("indent_share"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("sym_density"), 4).alias("avg_sym_density"),
            F.round(F.avg("digit_density"), 4).alias("avg_digit_density"),
            F.round(F.avg("indent_share"), 4).alias("avg_indent_share"),
        )
        .orderBy("source")
    )


@register(
    "embed_norm_outliers",
    doc="embedding hygiene: vector-norm distribution per label (mean / "
    "median) and count beyond 3 scaled MADs -- degenerate embeddings "
    "(zero or exploded norms) poison cosine retrieval; this is the "
    "pre-index gate. Norms are one array fold per row; the MAD pass "
    "reuses the robust-stats shape on the tiny (label, norm) rollup "
    "lineage.",
    oracle="""
WITH n AS (
  SELECT label,
         sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform(embedding::DOUBLE[], x -> x * x)),
                     (a, x) -> a + x)) AS nrm
  FROM embeddings
),
med AS (SELECT label, median(nrm) AS med_n FROM n GROUP BY label),
dev AS (
  SELECT n.label, ROUND(median(abs(nrm - med_n)), 4) AS mad
  FROM n JOIN med USING (label) GROUP BY n.label
)
SELECT n.label AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       ROUND(AVG(nrm), 4) AS mean_norm,
       ROUND(any_value(med.med_n), 4) AS median_norm,
       CAST(SUM(CASE WHEN abs(nrm - med.med_n) > 3 * 1.4826 * dev.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM n JOIN med USING (label) JOIN dev ON dev.label = n.label
GROUP BY n.label ORDER BY label
""",
)
def embed_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.similarity import l2_norm

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    n = emb.select("label", l2_norm(F.col("embedding").cast("array<double>")).alias("nrm"))
    med = n.groupBy(F.col("label").alias("l1")).agg(F.median("nrm").alias("med_n"))
    with_med = n.join(F.broadcast(med), F.col("label") == F.col("l1"))
    dev = with_med.groupBy(F.col("label").alias("l2")).agg(
        F.round(F.median(F.abs(F.col("nrm") - F.col("med_n"))), 4).alias("mad")
    )
    return (
        with_med.join(F.broadcast(dev), F.col("label") == F.col("l2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 4).alias("mean_norm"),
            F.round(F.any_value("med_n"), 4).alias("median_norm"),
            F.sum(
                F.when(
                    F.abs(F.col("nrm") - F.col("med_n")) > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("label")
    )


@register(
    "dedup_tier_report",
    doc="dedup-tier comparison: per tier -- exact (normalized text), "
    "bag-of-words (sorted tokens), prefix-Hamming(<=4) -- how many "
    "docs are flagged duplicate, and the INCREMENTAL docs each looser "
    "tier adds over the stricter one. Each tier reuses its verified "
    "idiom; the report is what decides which tiers a corpus actually "
    "needs before paying for MinHash.",
    oracle="""
WITH f AS (
  SELECT doc_id,
         hash(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS txt_fp,
         hash(array_to_string(list_sort(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')), ' ')) AS bag_fp,
         rpad(substr(text, 1, 64), 64, ' ') AS pre
  FROM documents
),
exact_d AS (
  SELECT doc_id FROM f QUALIFY count(*) OVER (PARTITION BY txt_fp) > 1
),
bag_d AS (
  SELECT doc_id FROM f QUALIFY count(*) OVER (PARTITION BY bag_fp) > 1
),
ham_d AS (
  SELECT DISTINCT a.doc_id
  FROM f a JOIN f b ON a.doc_id <> b.doc_id AND hamming(a.pre, b.pre) <= 4
)
SELECT * FROM (
  SELECT 'a_exact' AS tier, (SELECT count(*) FROM exact_d) AS n_flagged,
         0 AS n_incremental
  UNION ALL
  SELECT 'b_bag', (SELECT count(*) FROM bag_d),
         (SELECT count(*) FROM bag_d WHERE doc_id NOT IN (SELECT doc_id FROM exact_d))
  UNION ALL
  SELECT 'c_prefix_hamming', (SELECT count(*) FROM ham_d),
         (SELECT count(*) FROM ham_d WHERE doc_id NOT IN (SELECT doc_id FROM bag_d)
            AND doc_id NOT IN (SELECT doc_id FROM exact_d))
)
ORDER BY tier
""",
)
def dedup_tier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    f = docs.select(
        "doc_id",
        F.xxhash64(textstats.normalized_text(F.col("text"))).alias("txt_fp"),
        F.xxhash64(
            F.array_join(F.array_sort(textstats.tokens(F.lower(F.col("text")))), " ")
        ).alias("bag_fp"),
        F.rpad(F.substring("text", 1, 64), 64, " ").alias("pre"),
    )
    exact_d = f.withColumn("_k", F.count(F.lit(1)).over(Window.partitionBy("txt_fp"))).filter(
        "_k > 1"
    ).select("doc_id")
    bag_d = f.withColumn("_k", F.count(F.lit(1)).over(Window.partitionBy("bag_fp"))).filter(
        "_k > 1"
    ).select("doc_id")
    pairs = neardup.hamming_join(
        f.select("doc_id", "pre"), "doc_id", "pre", length=64, max_dist=4
    )
    ham_d = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionAll(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )

    def row(tier: str, d: DataFrame, minus: list[DataFrame]) -> DataFrame:
        inc = d
        for m in minus:
            inc = inc.join(m, "doc_id", "left_anti")
        return d.agg(F.count(F.lit(1)).alias("n_flagged")).crossJoin(
            F.broadcast(inc.agg(F.count(F.lit(1)).alias("n_incremental")))
        ).select(F.lit(tier).alias("tier"), "n_flagged", "n_incremental")

    base = row("a_exact", exact_d, [exact_d])  # incremental over itself = 0
    return (
        base.unionByName(row("b_bag", bag_d, [exact_d]))
        .unionByName(row("c_prefix_hamming", ham_d, [bag_d, exact_d]))
        .orderBy("tier")
    )


_TOK_SQL = "len(list_filter(string_split(trim(text), ' '), t -> t <> ''))"


@register(
    "corpus_mixture_weights",
    doc="temperature-resampled domain mixture (operators/sampling.py::"
    "temperature_allocation): per source, raw token share p flattened "
    "to sqrt(p) (T=2 -- head domains cede mass to the tail), "
    "renormalized, and a 1M-token budget split by largest-remainder "
    "apportionment so integer allocations sum to EXACTLY the budget. "
    "w snapped to the 2^-20 grid makes the renormalizing sum exact in "
    "any fold order; sqrt is correctly-rounded IEEE (pow is not, which "
    "is why T is pinned at 2). One rollup shuffle; every later step "
    "runs over the bounded |sources| frame (window_lint whitelisted).",
    oracle=f"""
WITH t AS (
  SELECT source, count(*) AS n_docs,
         CAST(SUM({_TOK_SQL}) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
p AS (
  SELECT source, n_docs, tokens,
         tokens::DOUBLE / (SUM(tokens) OVER ())::DOUBLE AS share,
         floor(sqrt(tokens::DOUBLE / (SUM(tokens) OVER ())::DOUBLE) * 1048576 + 0.5) / 1048576 AS w
  FROM t
),
a AS (
  SELECT source, n_docs, tokens, share, w,
         1000000.0 * w / SUM(w) OVER () AS target
  FROM p
),
b AS (
  SELECT source, n_docs, tokens, share, w, target,
         floor(target) AS base,
         CAST(1000000 - SUM(floor(target)) OVER () AS BIGINT) AS extra,
         ROW_NUMBER() OVER (ORDER BY target - floor(target) DESC, source) AS rnk
  FROM a
)
SELECT source, n_docs, tokens,
       ROUND(share, 6) AS share,
       ROUND(w, 6) AS w_temp,
       CAST(base + CASE WHEN rnk <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
FROM b ORDER BY source
""",
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = sampling.temperature_allocation(
        docs, "source", textstats.token_count(F.col("text")), budget=1_000_000
    )
    return out.select(
        "source",
        "n_docs",
        "tokens",
        F.round("share", 6).alias("share"),
        F.round("w_temp", 6).alias("w_temp"),
        "alloc_tokens",
    ).orderBy("source")


def _rsp_oracle(dim: int = 64, d_out: int = 8, seed: int = 7) -> str:
    """DuckDB twin of similarity.random_sign_projection + the per-label
    norm-preservation report: the +-1 planes are deterministic literals
    (rademacher_planes, md5-seeded), dots and norms are sequential
    left folds in array order on both engines (Spark aggregate/zip_with
    vs reduce()), the scale 1/sqrt(d_out) is one correctly-rounded IEEE
    op, and the per-row ratio is 2^-20-snapped before averaging so the
    cross-row sum is exact in any fold order."""
    from testlog_etl_spark.operators import similarity as _sim

    planes = _sim.rademacher_planes(seed, d_out, dim)
    scale = repr(float(d_out) ** 0.5)
    projs = ", ".join(
        f"{_duck_dot_plane('vec', p, dim)} / {scale}" for p in planes
    )
    pn = " + ".join(f"(proj[{j + 1}] * proj[{j + 1}])" for j in range(d_out))
    return f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
),
pr AS (
  SELECT vec_id, label, [{projs}] AS proj,
         reduce(list_prepend(0.0::DOUBLE, list_transform(vec, __e -> __e * __e)),
                (__a, __x) -> __a + __x) AS onorm2
  FROM v
),
r AS (
  SELECT label,
         CASE WHEN onorm2 > 0
              THEN floor(({pn}) / onorm2 * 1048576 + 0.5) / 1048576
              ELSE 0.0 END AS ratio
  FROM pr
)
SELECT label, count(*) AS n_vecs,
       ROUND(SUM(ratio) / count(*), 4) AS avg_ratio,
       ROUND(MIN(ratio), 4) AS min_ratio,
       ROUND(MAX(ratio), 4) AS max_ratio
FROM r GROUP BY label ORDER BY label
"""


@register(
    "embed_random_projection",
    doc="Johnson-Lindenstrauss sign projection 64->8 (operators/"
    "similarity.py::random_sign_projection, deterministic md5 "
    "Rademacher planes) with a per-label norm-preservation report "
    "(avg/min/max of |proj|^2/|v|^2 -- the JL contract E[ratio]=1). "
    "Pure per-row projection, no shuffle: at 100 TB this is the "
    "compress-before-shuffle move -- 8 doubles ride downstream "
    "ANN/dedup exchanges instead of the 64-float payload.",
    oracle=_rsp_oracle(),
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    pr = similarity.random_sign_projection(emb, "embedding", dim=64, d_out=8, seed=7)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    onorm2 = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    pnorm2 = F.aggregate(F.col("proj"), F.lit(0.0), lambda acc, x: acc + x * x)
    g = F.lit(float(1 << 20))
    ratio = F.when(
        onorm2 > 0, F.floor(pnorm2 / onorm2 * g + F.lit(0.5)) / g
    ).otherwise(F.lit(0.0))
    return (
        pr.select("label", ratio.alias("ratio"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("ratio") / F.count(F.lit(1)), 4).alias("avg_ratio"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
        )
        .orderBy("label")
    )


@register(
    "split_leakage_audit",
    doc="train/eval contamination audit: deterministic 90/10 hash split "
    "(operators/sampling.py::split_assign, md5-bucketed, sticky per "
    "doc_id), content fingerprint = md5 of the first-8-token prefix "
    "(near-verbatim leakage, the eval-set hygiene check run before "
    "every training round); an eval doc is contaminated when its "
    "fingerprint also appears in train. One distinct-project on the "
    "train side + one fingerprint equi-join (left semi) -- at 100 TB "
    "both sides shuffle 16-byte fingerprints, never text.",
    oracle="""
WITH s AS (
  SELECT doc_id, source,
         CASE WHEN try_cast(('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 15)) AS BIGINT) % 10000 < 9000
              THEN 'train' ELSE 'eval' END AS split,
         substr(md5(array_to_string(
           list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')[1:8], ' ')), 1, 16) AS fp
  FROM documents WHERE text IS NOT NULL
),
tr AS (SELECT DISTINCT fp FROM s WHERE split = 'train'),
ev AS (
  SELECT s.source, s.fp, EXISTS(SELECT 1 FROM tr WHERE tr.fp = s.fp) AS hit
  FROM s WHERE split = 'eval'
)
SELECT source,
       count(*) AS n_eval_docs,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       ROUND(SUM(CASE WHEN hit THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS contamination_rate
FROM ev GROUP BY source ORDER BY source
""",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull()
    )
    s = sampling.split_assign(docs, "doc_id", {"train": 0.9, "eval": 0.1}, seed="7")
    prefix = F.array_join(F.slice(textstats.tokens(F.lower(F.col("text"))), 1, 8), " ")
    s = s.withColumn("fp", F.substring(F.md5(prefix), 1, 16))
    train_fp = s.filter(F.col("split") == "train").select("fp").distinct()
    ev = s.filter(F.col("split") == "eval").select("doc_id", "source", "fp")
    hits = (
        ev.join(train_fp.withColumnRenamed("fp", "_tfp"), ev["fp"] == F.col("_tfp"), "left")
        .withColumn("hit", F.col("_tfp").isNotNull())
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_eval_docs"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("double") / F.count(F.lit(1)), 4
            ).alias("contamination_rate"),
        )
        .orderBy("source")
    )


@register(
    "dedup_source_overlap_matrix",
    doc="cross-source duplication (provenance) matrix: which sources "
    "copy from which. Distinct (source, prefix-fingerprint) pairs "
    "self-join on the fingerprint with source_a < source_b -- one "
    "16-byte-key equi-join, candidate-volume-proportional (the "
    "all-pairs-of-sources frame never materializes); per source pair, "
    "the count of distinct shared fingerprints. The report that "
    "decides which source to drop when near-dup tiers flag systematic "
    "mirroring.",
    oracle="""
WITH f AS (
  SELECT DISTINCT source,
         substr(md5(array_to_string(
           list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')[1:8],
           ' ')), 1, 16) AS fp
  FROM documents WHERE text IS NOT NULL
),
p AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared
FROM p GROUP BY source_a, source_b ORDER BY source_a, source_b
""",
)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull()
    )
    prefix = F.array_join(F.slice(textstats.tokens(F.lower(F.col("text"))), 1, 8), " ")
    f = docs.select(
        "source", F.substring(F.md5(prefix), 1, 16).alias("fp")
    ).distinct()
    a = f.select(F.col("source").alias("source_a"), "fp")
    b = f.select(F.col("source").alias("source_b"), F.col("fp").alias("fp_b"))
    pairs = a.join(b, (F.col("fp") == F.col("fp_b")) & (F.col("source_a") < F.col("source_b")))
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


@register(
    "corpus_context_window_report",
    doc="context-window overflow accounting: per source, how many docs "
    "exceed a 64-BPE-ish-token context window, the truncation waste "
    "(tokens beyond the limit a naive truncation throws away) and the "
    "window utilization (kept tokens / capacity). The packing-policy "
    "input every sequence-prep pipeline computes before choosing "
    "truncate-vs-split (pack_sequences / text_chunk_overlap are the "
    "split paths). Pure per-row token counts + one rollup shuffle; "
    "integral token arithmetic so sums are fold-order exact.",
    oracle=f"""
WITH t AS (
  SELECT source,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tok
  FROM documents WHERE text IS NOT NULL
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
       ROUND(SUM(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS over_rate,
       CAST(SUM(greatest(n_tok - 64, 0)) AS BIGINT) AS truncation_waste,
       ROUND(SUM(least(n_tok, 64))::DOUBLE / (64.0 * count(*)), 4) AS utilization
FROM t GROUP BY source ORDER BY source
""",
)
def corpus_context_window_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    limit = 64
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull()
    )
    n_tok = textstats.bpe_ish_token_count(F.col("text"))
    t = docs.select("source", n_tok.alias("n_tok"))
    over = F.sum(F.when(F.col("n_tok") > limit, 1).otherwise(0))
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            over.cast("long").alias("n_over"),
            F.round(over.cast("double") / F.count(F.lit(1)), 4).alias("over_rate"),
            F.sum(F.greatest(F.col("n_tok") - limit, F.lit(0))).cast("long").alias("truncation_waste"),
            F.round(
                F.sum(F.least(F.col("n_tok"), F.lit(limit))).cast("double")
                / (F.lit(float(limit)) * F.count(F.lit(1))),
                4,
            ).alias("utilization"),
        )
        .orderBy("source")
    )


@register(
    "eval_score_calibration",
    doc="reliability diagram for the model quality score: 2^-20-snapped "
    "logistic score binned into 10 equal-width bins; per bin, doc "
    "count, mean score, and the rate at which the cheap score's "
    "prediction agrees with the expensive heuristic gate "
    "(docs_filter_pipeline's keep verdict as the outcome) -- the "
    "calibration readout that decides whether a learned filter can "
    "replace the rule gate at 100 TB. Pure per-row exprs + one "
    "10-cell rollup; bin ids and outcomes are integral/boolean so "
    "nothing drifts cross-engine; mean score = sum of snapped dyadics "
    "/ count (exact).",
    oracle=f"""
WITH s AS (
  SELECT
    floor((1.0 / (1.0 + exp(-({_quality_z_sql()})))) * 1048576 + 0.5) / 1048576 AS score,
    len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS n_tok,
    len(list_filter(string_split(lower(text),' '),
        t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], t)))::DOUBLE
      / greatest(len(string_split(lower(text),' ')), 1) AS sw,
    list_sum(list_transform(list_filter(string_split(trim(text), ' '), t -> t <> ''),
                            t -> length(t)))::DOUBLE
      / greatest(len(list_filter(string_split(trim(text), ' '), t -> t <> '')), 1) AS mtl,
    CASE WHEN len(string_split(trim(text), ' ')) >= 2
         THEN 1.0 - len(list_distinct(list_transform(range(1, len(string_split(trim(text),' '))),
                i -> string_split(trim(text),' ')[i] || ' ' || string_split(trim(text),' ')[i+1])))::DOUBLE
              / (len(string_split(trim(text),' ')) - 1)
         ELSE 0.0 END AS dup2
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
v AS (
  SELECT score,
         least(CAST(floor(score * 10) AS INT), 9) AS bin,
         (n_tok >= 25 AND sw >= 0.02 AND dup2 <= 0.05 AND mtl BETWEEN 2.0 AND 9.0) AS kept
  FROM s
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(SUM(score) / count(*), 6) AS mean_score,
       ROUND(SUM(CASE WHEN kept THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS keep_rate
FROM v GROUP BY bin ORDER BY bin
""",
)
def eval_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    from testlog_etl_spark.util import spread

    g = F.lit(float(1 << 20))
    score = F.floor(filtering.linear_quality_score(F.col("text")) * g + F.lit(0.5)) / g
    kept = filtering.filter_verdict(F.col("text")) == "keep"
    # r13: (a) spread -- the score/verdict string lambdas are CPU-heavy
    # and the single-file scan ran them serially (docs_filter_pipeline's
    # own rationale); safe here because every output is order-exact:
    # bin/kept/counts are integral and SUM(score) sums 2^-20-snapped
    # dyadics (numerator < 2^33 << 2^53), so the float fold commutes
    # exactly. (b) score materialized as a column BEFORE bin derives
    # from it -- inlined, the whole logistic-score tree was evaluated
    # twice per row (no CSE across interpreted HOF projections).
    t = (
        spread(docs.select("text"))
        .select(score.alias("score"), kept.alias("kept"))
        .select(
            "score",
            F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias("bin"),
            "kept",
        )
    )
    return (
        t.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("score") / F.count(F.lit(1)), 6).alias("mean_score"),
            F.round(
                F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("double") / F.count(F.lit(1)), 4
            ).alias("keep_rate"),
        )
        .orderBy("bin")
    )


@register(
    "dedup_editdist_neighbors",
    doc="edit-distance near-dup tier: per-customer count of OTHER "
    "customers whose name is within Levenshtein distance 1 (insert / "
    "delete / substitute -- the typo class Hamming chunking cannot "
    "block because one indel shifts every later character). Spark "
    "side is deletion-neighborhood blocking (FastSS / SymSpell "
    "family, operators/neardup.py::editdist1_pairs): identity + "
    "single-deletion variants hashed to 8 bytes, equi-join on the "
    "variant hash (no false negatives by the pigeonhole of one edit), "
    "then a JVM levenshtein verify. Oracle states the exact O(n^2) "
    "contract with DuckDB's native levenshtein().",
    oracle="""
WITH pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
),
sym AS (
  SELECT id_a AS custkey FROM pairs
  UNION ALL
  SELECT id_b FROM pairs
)
SELECT custkey, count(*) AS n_neighbors
FROM sym GROUP BY custkey
ORDER BY custkey
""",
)
def dedup_editdist_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    pairs = neardup.editdist1_pairs(cust, "c_custkey", "c_name")
    sym = pairs.select(F.col("id_a").alias("custkey")).unionAll(
        pairs.select(F.col("id_b").alias("custkey"))
    )
    return (
        sym.groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
        .orderBy("custkey")
    )


@register(
    "corpus_balanced_shards",
    doc="balanced training-shard assignment: docs ranked by token count "
    "(desc, doc_id ties) via the in-plan bucketed global scan "
    "(operators/scan.py::global_scan -- no single-partition "
    "window), then dealt round-robin into 16 shards: sorted round-"
    "robin is the classic near-LPT heuristic, largest items spread "
    "first so shard token totals stay within one max-doc of each "
    "other. Readout: per-shard doc count, token total, share of the "
    "global token budget.",
    oracle="""
WITH d AS (
  SELECT doc_id,
         len(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS n_tok
  FROM documents
),
r AS (
  SELECT doc_id, n_tok,
         ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) AS i
  FROM d
),
s AS (
  SELECT (i - 1) % 16 AS shard, count(*)::BIGINT AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
  FROM r GROUP BY shard
),
t AS (SELECT SUM(shard_tokens) AS tot FROM s)
SELECT CAST(shard AS BIGINT) AS shard, n_docs, shard_tokens,
       ROUND(shard_tokens / t.tot, 6) AS token_share
FROM s CROSS JOIN t
ORDER BY shard
""",
)
def corpus_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    d = docs.select(
        "doc_id", F.size(textstats.tokens(F.col("text"))).alias("n_tok")
    )
    r = global_scan(d, [ScanSpec(("n_tok desc", "doc_id"), rank="i")])
    s = r.groupBy(((F.col("i") - 1) % 16).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("shard_tokens"),
    )
    t = s.agg(F.sum("shard_tokens").cast("double").alias("tot"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "shard",
            "n_docs",
            "shard_tokens",
            F.round(F.col("shard_tokens") / F.col("tot"), 6).alias("token_share"),
        )
        .orderBy("shard")
    )


def _feature_hashing_oracle() -> str:
    h_dim = osql.xxh64_sql("term")
    h_sign = osql.xxh64_sql("term || '#s'")
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS term
  FROM documents
),
m AS (
  SELECT doc_id, term,
         (({h_dim}) % 64 + 64) % 64 AS dim,
         ((({h_sign}) % 2 + 2) % 2) * 2 - 1 AS sign
  FROM tok
)
SELECT CAST(dim AS BIGINT) AS dim,
       count(*)::BIGINT AS n_tokens,
       count(DISTINCT term)::BIGINT AS n_terms,
       CAST(SUM(sign) AS BIGINT) AS signed_sum
FROM m GROUP BY dim ORDER BY dim
"""


@register(
    "text_feature_hashing",
    doc="the hashing trick (Weinberger et al. '09): every token mapped "
    "to one of 64 feature dimensions by xxhash64, with a second "
    "independent hash choosing +-1 so collisions cancel in expectation "
    "(the signed variant that keeps the inner product unbiased). "
    "Readout per dimension: token mass, DISTINCT colliding terms, and "
    "the signed sum. Fixed output dimensionality regardless of "
    "vocabulary size -- the embedding-free featurizer for corpus-scale "
    "linear models; one explode + one 64-group rollup, no vocabulary "
    "state anywhere.",
    oracle=None,  # generated below: needs the xxh64 SQL twin
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select(
        F.explode(textstats.tokens(F.col("text"))).alias("term")
    )
    dim = F.pmod(F.xxhash64(F.col("term")), F.lit(64))
    sign = F.pmod(F.xxhash64(F.concat(F.col("term"), F.lit("#s"))), F.lit(2)) * 2 - 1
    return (
        tok.select(dim.alias("dim"), F.col("term"), sign.alias("sign"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("term").alias("n_terms"),
            F.sum("sign").alias("signed_sum"),
        )
        .orderBy("dim")
    )


from testlog_etl_spark.suite import REGISTRY as _LLM_REG  # noqa: E402

_LLM_REG["text_feature_hashing"].oracle = _feature_hashing_oracle()


def _pq_oracle(dim: int = 64, m: int = 4, k: int = 8, n_iter: int = 2, qbits: int = 20) -> str:
    """DuckDB twin of per-subspace kmeans_fit + nearest-code assignment:
    the _ivf_topk_oracle playbook (grid-snapped Lloyd's replayed as
    chained CTEs, argmin ties ORDER BY (dist, cell)) applied once per
    PQ subspace."""
    g = float(1 << qbits)
    sd = dim // m

    def snap(x: str) -> str:
        return f"floor(({x}) * {g} + 0.5) / {g}"

    def sqdist(a: str, b: str) -> str:
        return (
            f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {sd + 1}), "
            f"__i -> ({a}[__i] - {b}[__i]) * ({a}[__i] - {b}[__i]))), (__a, __x) -> __a + __x)"
        )

    blocks = ["v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)"]
    selects = []
    for s in range(m):
        a, b = sd * s + 1, sd * (s + 1)
        blocks.append(f"v{s} AS (SELECT vec_id, vec[{a}:{b}] AS sv FROM v)")
        blocks.append(
            f"""c{s}_0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(sv, __x -> {snap('__x')}) AS centroid
  FROM (SELECT vec_id, sv FROM v{s} ORDER BY vec_id LIMIT {k})
)"""
        )
        for i in range(1, n_iter + 1):
            prev = f"c{s}_{i - 1}"
            blocks.append(
                f"""a{s}_{i} AS (
  SELECT vec_id, sv, cell FROM (
    SELECT v{s}.vec_id, v{s}.sv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v{s}.vec_id
                              ORDER BY {sqdist(f'v{s}.sv', 'c.centroid')}, c.cell) AS rn
    FROM v{s} CROSS JOIN {prev} c
  ) WHERE rn = 1
),
u{s}_{i} AS (
  SELECT cell, array_agg(mv ORDER BY idx) AS centroid FROM (
    SELECT cell, idx, {snap('AVG(val)')} AS mv FROM (
      SELECT cell, unnest(sv) AS val, unnest(range(1, {sd + 1})) AS idx FROM a{s}_{i}
    ) GROUP BY cell, idx
  ) GROUP BY cell
),
c{s}_{i} AS (
  SELECT p.cell, COALESCE(u{s}_{i}.centroid, p.centroid) AS centroid
  FROM {prev} p LEFT JOIN u{s}_{i} ON p.cell = u{s}_{i}.cell
)"""
            )
        fin = f"c{s}_{n_iter}"
        blocks.append(
            f"""f{s} AS (
  SELECT cell, d FROM (
    SELECT v{s}.vec_id, c.cell, {sqdist(f'v{s}.sv', 'c.centroid')} AS d,
           ROW_NUMBER() OVER (PARTITION BY v{s}.vec_id
                              ORDER BY {sqdist(f'v{s}.sv', 'c.centroid')}, c.cell) AS rn
    FROM v{s} CROSS JOIN {fin} c
  ) WHERE rn = 1
)"""
        )
        selects.append(
            f"SELECT {s} AS subspace, count(*)::BIGINT AS n_vecs, "
            f"count(DISTINCT cell)::BIGINT AS cells_used, ROUND(AVG(d), 6) AS mse FROM f{s}"
        )
    body = ",\n".join(blocks)
    union = " UNION ALL ".join(selects)
    return f"WITH {body}\nSELECT * FROM ({union}) ORDER BY subspace"


@register(
    "sim_product_quantization",
    doc="product quantization (Jegou et al. '11) -- the ANN storage "
    "compressor beside IVF: the 64-dim embedding splits into 4 "
    "subspaces of 16 dims, each learns an 8-centroid codebook "
    "(kmeans_fit, grid-snapped centroids: the IVF exact-oracle "
    "playbook), and every vector encodes to 4 one-byte codes -- 64x "
    "smaller than float32. Readout per subspace: vectors, codebook "
    "cells actually used, mean squared reconstruction error. Each "
    "subspace's Lloyd's moves O(k*subdim) rows per iteration (the "
    "corpus never shuffles); encoding is a per-row literal-matrix fold.",
    oracle=None,  # generated below (chained-CTE kmeans replay)
)
def sim_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    outs = []
    for s in range(4):
        sub = emb.select(
            "vec_id", F.slice("embedding", 1 + 16 * s, 16).cast("array<double>").alias("sv")
        )
        cents = similarity.kmeans_fit(
            sub, "sv", k=8, n_iter=2, id_col="vec_id", centroid_quant_bits=20
        )
        cent_df = spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in cents],
            "cell bigint, centroid array<double>",
        )
        assigned = sub.withColumn(
            "cell", similarity._argmin_cell(F.col("sv"), cents)
        )
        outs.append(
            assigned.join(F.broadcast(cent_df), "cell").select(
                F.lit(s).alias("subspace"),
                F.col("cell"),
                similarity.sq_dist(F.col("sv"), F.col("centroid")).alias("d"),
            )
        )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    return (
        u.groupBy("subspace")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count_distinct("cell").alias("cells_used"),
            F.round(F.avg("d"), 6).alias("mse"),
        )
        .orderBy("subspace")
    )


_LLM_REG["sim_product_quantization"].oracle = _pq_oracle()


@register(
    "corpus_threshold_sweep",
    doc="dedup-aggressiveness sweep: for Jaccard thresholds 0.5..0.9, "
    "how many near-dup pairs qualify and what fraction of the corpus a "
    "min-id-exemplar dedup would drop. Pairs come from ONE "
    "prefix-filtered pass at the loosest threshold (0.5) -- every "
    "tighter threshold is a free filter over the same candidates, so "
    "the sweep costs one pair join, not five. The 5-row threshold "
    "table joins by non-equi broadcast; the oracle replays the "
    "brute-force pair scan per threshold.",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
d AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sh,b.sh))::DOUBLE /
         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh,b.sh))) AS j
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh,b.sh))::DOUBLE /
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh,b.sh))) >= 0.5
),
th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS threshold),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
SELECT th.threshold,
       count(p.id_a)::BIGINT AS n_pairs,
       count(DISTINCT p.id_b)::BIGINT AS n_dup_docs,
       ROUND(count(DISTINCT p.id_b) / n.n_docs, 6) AS dup_rate
FROM th LEFT JOIN pairs p ON p.j >= th.threshold CROSS JOIN n
GROUP BY th.threshold, n.n_docs
ORDER BY th.threshold
""",
)
def corpus_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the operator persists its (id, shingles) projection; the cache lives
    # until the session's clearCache() (bench.py clears between queries)
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    d = docs.select("doc_id", neardup.word_shingles(F.col("text")).alias("sh"))
    pairs = neardup.jaccard_pairs_prefix_filtered(d, "doc_id", "sh", 0.5).select(
        "id_a", "id_b", F.col("jaccard").alias("j")
    )
    th = docs.sparkSession.createDataFrame(
        [(0.5,), (0.6,), (0.7,), (0.8,), (0.9,)], "threshold double"
    )
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return (
        th.join(pairs, pairs["j"] >= th["threshold"], "left")
        .crossJoin(F.broadcast(n))
        .groupBy("threshold", "n_docs")
        .agg(
            F.count("id_a").alias("n_pairs"),
            F.count_distinct("id_b").alias("n_dup_docs"),
        )
        .select(
            "threshold",
            "n_pairs",
            "n_dup_docs",
            F.round(F.col("n_dup_docs") / F.col("n_docs"), 6).alias("dup_rate"),
        )
        .orderBy("threshold")
    )


def _power_pc_oracle(dim: int = 64, n_iter: int = 4, qbits: int = 20) -> str:
    """Sequential replay of power_iteration_top_pc: same init (exact
    1/8 components), same per-iteration (row-dot, per-dim sum,
    norm in dim order, snap-after-normalize)."""
    g = float(1 << qbits)

    def snap(x: str) -> str:
        return f"floor(({x}) * {g} + 0.5) / {g}"

    init = "[" + ", ".join(["0.125"] * dim) + "]::DOUBLE[]"
    blocks = [
        "v AS (SELECT embedding::DOUBLE[] AS x FROM embeddings)",
        f"p0 AS (SELECT {init} AS pv)",
    ]
    for i in range(1, n_iter + 1):
        prev = f"p{i - 1}"
        blocks.append(
            f"""d{i} AS (
  SELECT x,
         reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}),
                __j -> x[__j] * pv[__j])), (__a, __b) -> __a + __b) AS dot
  FROM v CROSS JOIN {prev}
),
w{i} AS (
  SELECT array_agg(s ORDER BY idx) AS w FROM (
    SELECT idx, SUM(val * dot) AS s FROM (
      SELECT dot, unnest(x) AS val, unnest(range(1, {dim + 1})) AS idx FROM d{i}
    ) GROUP BY idx
  )
),
n{i} AS (
  SELECT sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform(w, __e -> __e * __e)),
              (__a, __b) -> __a + __b)) AS nrm
  FROM w{i}
),
p{i} AS (
  SELECT list_transform(w, __e -> {snap('__e / nrm')}) AS pv
  FROM w{i} CROSS JOIN n{i}
)"""
        )
    body = ",\n".join(blocks)
    return f"""
WITH {body}
SELECT CAST(idx AS INT) AS dim, pv[idx] AS loading,
       ROUND((SELECT nrm FROM n{n_iter}), 4) AS eigenvalue
FROM p{n_iter} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS idx)
ORDER BY dim
"""


@register(
    "embed_top_principal",
    doc="top principal direction of the embedding cloud by POWER "
    "ITERATION on DataFrames (operators/linalg.py): 4 rounds, each ONE "
    "pass computing row projections x.v (array fold, vectors never "
    "leave their rows) and the elementwise (x.v)*x contributions, "
    "partial-aggregated to 64 dim-keyed rows before the only exchange; "
    "the driver holds one 64-float state vector (kmeans contract). "
    "Grid-snapped after every normalize, so the sequential CTE replay "
    "is bit-identical -- the kmeans/pagerank exact-oracle playbook "
    "applied to iterative linear algebra. Uncentered (second-moment "
    "direction); center upstream for true PCA.",
    oracle=None,  # generated below (chained-CTE power-iteration replay)
)
def embed_top_principal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.linalg import power_iteration_top_pc

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v, lam = power_iteration_top_pc(emb, "embedding", dim=64, n_iter=4)
    out = spark.createDataFrame(
        [(i + 1, float(c)) for i, c in enumerate(v)], "dim int, loading double"
    )
    return out.withColumn("eigenvalue", F.round(F.lit(lam), 4)).orderBy("dim")


_LLM_REG["embed_top_principal"].oracle = _power_pc_oracle()


def _pq_adc_body(dim: int = 64, m: int = 4, k_cells: int = 8, n_iter: int = 2, qbits: int = 20) -> str:
    """Extends _pq_oracle's per-subspace kmeans replay with the ADC
    search: per-query distance tables against each codebook, summed
    over the corpus codes, ranked on the ROUNDED estimate."""
    g = float(1 << qbits)
    sd = dim // m

    def snap(x: str) -> str:
        return f"floor(({x}) * {g} + 0.5) / {g}"

    def sqdist(a: str, b: str) -> str:
        return (
            f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {sd + 1}), "
            f"__i -> ({a}[__i] - {b}[__i]) * ({a}[__i] - {b}[__i]))), (__a, __x) -> __a + __x)"
        )

    blocks = ["v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)"]
    for s in range(m):
        a, b = sd * s + 1, sd * (s + 1)
        blocks.append(f"v{s} AS (SELECT vec_id, vec[{a}:{b}] AS sv FROM v)")
        blocks.append(
            f"""c{s}_0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(sv, __x -> {snap('__x')}) AS centroid
  FROM (SELECT vec_id, sv FROM v{s} ORDER BY vec_id LIMIT {k_cells})
)"""
        )
        for i in range(1, n_iter + 1):
            prev = f"c{s}_{i - 1}"
            blocks.append(
                f"""a{s}_{i} AS (
  SELECT vec_id, sv, cell FROM (
    SELECT v{s}.vec_id, v{s}.sv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v{s}.vec_id
                              ORDER BY {sqdist(f'v{s}.sv', 'c.centroid')}, c.cell) AS rn
    FROM v{s} CROSS JOIN {prev} c
  ) WHERE rn = 1
),
u{s}_{i} AS (
  SELECT cell, array_agg(mv ORDER BY idx) AS centroid FROM (
    SELECT cell, idx, {snap('AVG(val)')} AS mv FROM (
      SELECT cell, unnest(sv) AS val, unnest(range(1, {sd + 1})) AS idx FROM a{s}_{i}
    ) GROUP BY cell, idx
  ) GROUP BY cell
),
c{s}_{i} AS (
  SELECT p.cell, COALESCE(u{s}_{i}.centroid, p.centroid) AS centroid
  FROM {prev} p LEFT JOIN u{s}_{i} ON p.cell = u{s}_{i}.cell
)"""
            )
        fin = f"c{s}_{n_iter}"
        blocks.append(
            f"""code{s} AS (
  SELECT vec_id AS c_id, {s} AS sub, cell FROM (
    SELECT v{s}.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v{s}.vec_id
                              ORDER BY {sqdist(f'v{s}.sv', 'c.centroid')}, c.cell) AS rn
    FROM v{s} CROSS JOIN {fin} c
  ) WHERE rn = 1
),
qd{s} AS (
  SELECT v{s}.vec_id AS q_id, {s} AS sub, c.cell,
         {sqdist(f'v{s}.sv', 'c.centroid')} AS qdist
  FROM v{s} CROSS JOIN {fin} c WHERE v{s}.vec_id < 20
)"""
        )
    codes = " UNION ALL ".join(f"SELECT * FROM code{s}" for s in range(m))
    qds = " UNION ALL ".join(f"SELECT * FROM qd{s}" for s in range(m))
    blocks.append(f"codes AS ({codes})")
    blocks.append(f"qd AS ({qds})")
    blocks.append(
        f"""pairs AS (
  SELECT qd.q_id, codes.c_id, ROUND(SUM(qd.qdist), 6) AS adc
  FROM codes JOIN qd ON qd.sub = codes.sub AND qd.cell = codes.cell
  WHERE qd.q_id <> codes.c_id
  GROUP BY qd.q_id, codes.c_id
),
ranked AS (
  SELECT q_id, c_id, adc,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
  FROM pairs
)"""
    )
    return ",\n".join(blocks)


def _pq_adc_oracle(k: int = 5) -> str:
    body = _pq_adc_body()
    return f"""
WITH {body}
SELECT q_id, c_id, adc, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
ORDER BY q_id, rank
"""


@register(
    "sim_pq_adc_topk",
    doc="PQ asymmetric-distance search (the query side of "
    "sim_product_quantization): corpus vectors live ONLY as 4 one-byte "
    "codes; each query precomputes a 4x8 distance table against the "
    "codebooks (exact query subvectors vs centroids -- 'asymmetric'), "
    "and candidate distance is 4 table lookups summed -- at 100 TB the "
    "scan reads codes, never floats, and the distance-table join "
    "broadcasts 640 rows. Ranked on the ROUNDED estimate with id "
    "ties (the bm25 determinism rule). Same grid-snapped kmeans "
    "replay as the PQ/IVF oracles.",
    oracle=None,  # generated below
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    codes_parts = []
    qd_parts = []
    for s in range(4):
        sub = emb.select(
            "vec_id", F.slice("embedding", 1 + 16 * s, 16).cast("array<double>").alias("sv")
        )
        cents = similarity.kmeans_fit(
            sub, "sv", k=8, n_iter=2, id_col="vec_id", centroid_quant_bits=20
        )
        cent_df = spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in cents],
            "cell bigint, centroid array<double>",
        )
        codes_parts.append(
            sub.withColumn("cell", similarity._argmin_cell(F.col("sv"), cents)).select(
                F.col("vec_id").alias("c_id"), F.lit(s).alias("sub"), "cell"
            )
        )
        qd_parts.append(
            sub.filter(F.col("vec_id") < 20)
            .crossJoin(F.broadcast(cent_df))
            .select(
                F.col("vec_id").alias("q_id"),
                F.lit(s).alias("sub"),
                "cell",
                similarity.sq_dist(F.col("sv"), F.col("centroid")).alias("qdist"),
            )
        )
    codes = codes_parts[0]
    for c in codes_parts[1:]:
        codes = codes.unionByName(c)
    qd = qd_parts[0]
    for q in qd_parts[1:]:
        qd = qd.unionByName(q)
    pairs = (
        codes.join(F.broadcast(qd), ["sub", "cell"])
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.round(F.sum("qdist"), 6).alias("adc"))
    )
    from testlog_etl_spark.operators.topk import grouped_topk

    top = grouped_topk(pairs, ["q_id"], "adc", "c_id", 5, descending=False)
    return top.select("q_id", "c_id", "adc", "rank").orderBy("q_id", "rank")


_LLM_REG["sim_pq_adc_topk"].oracle = _pq_adc_oracle()


@register(
    "text_sentence_stats",
    doc="sentence-level corpus stats per source: docs, sentences "
    "(punctuation-split, trimmed-empty-free), sentences per doc, and "
    "token-weighted words per sentence -- the readability-adjacent "
    "rollup a data-quality pipeline gates on. One scan: sentence "
    "splitting and per-sentence word counts are array lambdas inside "
    "the row (no explode before the per-source rollup).",
    oracle="""
WITH s AS (
  SELECT source,
         list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                    x -> trim(x)), x -> x <> '') AS sents
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT source, len(sents) AS n_sent,
         reduce(list_prepend(0::BIGINT,
                list_transform(sents,
                  x -> len(list_filter(regexp_split_to_array(x, '\\s+'), w -> w <> '')))),
                (a, b) -> a + b) AS n_words
  FROM s
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       CAST(SUM(n_sent) AS BIGINT) AS n_sentences,
       ROUND(SUM(n_sent)::DOUBLE / count(*), 4) AS sent_per_doc,
       ROUND(SUM(n_words)::DOUBLE / SUM(n_sent), 4) AS words_per_sent
FROM c GROUP BY source ORDER BY source
""",
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sents = F.filter(
        F.transform(F.split(F.col("text"), "[.!?]+"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    words_of = lambda x: F.size(  # noqa: E731
        F.filter(F.split(x, "\\s+"), lambda w: w != "")
    ).cast("long")
    c = docs.filter(F.col("text").isNotNull()).select(
        "source",
        F.size(sents).alias("n_sent"),
        F.aggregate(
            F.transform(sents, words_of), F.lit(0).cast("long"), lambda a, b: a + b
        ).alias("n_words"),
    )
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sent").alias("n_sentences"),
            F.round(F.sum("n_sent").cast("double") / F.count(F.lit(1)), 4).alias("sent_per_doc"),
            F.round(F.sum("n_words").cast("double") / F.sum("n_sent"), 4).alias("words_per_sent"),
        )
        .orderBy("source")
    )


def _pq_recall_oracle(dim: int = 64, k: int = 5) -> str:
    """ADC top-k replay (shared _pq_adc_body) beside the exact
    full-dimension sqdist top-k; recall = overlap / k per query."""
    body = _pq_adc_body()

    def sqdist64(a: str, b: str) -> str:
        return (
            f"reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dim + 1}), "
            f"__i -> ({a}[__i] - {b}[__i]) * ({a}[__i] - {b}[__i]))), (__a, __x) -> __a + __x)"
        )

    return f"""
WITH {body},
bq AS (SELECT vec_id AS q_id, vec FROM v WHERE vec_id < 20),
bs AS (
  SELECT bq.q_id, v.vec_id AS c_id, ROUND({sqdist64('bq.vec', 'v.vec')}, 6) AS d
  FROM bq JOIN v ON v.vec_id <> bq.q_id
),
br AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, c_id) AS rn
    FROM bs
  ) WHERE rn <= {k}
),
adc5 AS (SELECT q_id, c_id FROM ranked WHERE rank <= {k})
SELECT br.q_id,
       count(adc5.c_id)::BIGINT AS n_overlap,
       ROUND(count(adc5.c_id) / {k}.0, 4) AS recall
FROM br LEFT JOIN adc5 USING (q_id, c_id)
GROUP BY br.q_id ORDER BY br.q_id
"""


@register(
    "eval_pq_recall",
    doc="recall@5 of the PQ-ADC list against EXACT full-dimension "
    "squared-distance top-5 -- the accuracy/compression trade readout "
    "for sim_pq_adc_topk (the sibling of eval_ann_recall's IVF "
    "grading). Exact side: query-tier crossjoin (20 queries, "
    "documented eval-tier cost) with the grouped top-k prune; both "
    "lists rank on ROUNDED distances with id ties, so the overlap "
    "count is engine-stable.",
    oracle=None,  # generated below (shared PQ replay + brute-force CTE)
)
def eval_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.topk import grouped_topk

    adc = (
        sim_pq_adc_topk(spark, sf_dir)
        .filter(F.col("rank") <= 5)
        .select("q_id", F.col("c_id").alias("a_cid"))
    )
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    bq = v.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("qv")
    )
    bs = (
        v.crossJoin(F.broadcast(bq))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.round(similarity.sq_dist(F.col("qv"), F.col("vec")), 6).alias("d"),
        )
    )
    br = grouped_topk(bs, ["q_id"], "d", "c_id", 5, descending=False).select("q_id", "c_id")
    return (
        br.join(
            adc,
            (br["q_id"] == adc["q_id"]) & (br["c_id"] == adc["a_cid"]),
            "left",
        )
        .drop(adc["q_id"])
        .groupBy("q_id")
        .agg(
            F.count("a_cid").alias("n_overlap"),
            F.round(F.count("a_cid") / 5.0, 4).alias("recall"),
        )
        .orderBy("q_id")
    )


_LLM_REG["eval_pq_recall"].oracle = _pq_recall_oracle()


@register(
    "multimodal_audio_windows",
    doc="audio frame-windowing plumbing (the 25 ms window / 10 ms hop "
    "speech convention): documents adapted as fake 16 kHz 16-bit PCM "
    "clips (n_samples = bytes div 2), each clip EXPLODED to its window "
    "starts via sequence() -- the fan-out-before-featurize shape, all "
    "integer arithmetic. Per source: clips, windowable clips, total "
    "frames, and a cross-check that the exploded frame count equals "
    "the closed-form (n - 400) div 160 + 1 on every clip (the driver "
    "hash fails if fan-out and formula ever disagree).",
    oracle="""
WITH m AS (
  SELECT doc_id, source, coalesce(length(text), 0) // 2 AS n_samples
  FROM documents
),
f AS (
  SELECT doc_id, source, n_samples,
         CASE WHEN n_samples >= 400 THEN (n_samples - 400) // 160 + 1 ELSE 0 END AS frames_formula
  FROM m
),
x AS (
  SELECT f.doc_id, count(*) AS frames_exploded
  FROM f, LATERAL (SELECT unnest(range(0, f.n_samples - 400 + 1, 160)) AS w0)
  WHERE f.n_samples >= 400
  GROUP BY f.doc_id
)
SELECT f.source,
       count(*)::BIGINT AS n_clips,
       CAST(SUM(CASE WHEN f.n_samples >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS windowable_clips,
       CAST(SUM(f.frames_formula) AS BIGINT) AS total_frames,
       bool_and(coalesce(x.frames_exploded, 0) = f.frames_formula) AS explode_matches_formula
FROM f LEFT JOIN x ON x.doc_id = f.doc_id
GROUP BY f.source ORDER BY f.source
""",
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    m = docs.select(
        "doc_id",
        "source",
        F.expr("coalesce(length(text), 0) div 2").alias("n_samples"),
    )
    f = m.withColumn(
        "frames_formula",
        F.when(
            F.col("n_samples") >= 400,
            F.expr("(n_samples - 400) div 160 + 1"),
        ).otherwise(F.lit(0).cast("long")),
    )
    x = (
        f.filter(F.col("n_samples") >= 400)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_samples") - 400, F.lit(160).cast("long"))
            ).alias("w0"),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("frames_exploded"))
        .withColumnRenamed("doc_id", "_did")
    )
    j = f.join(x, F.col("doc_id") == F.col("_did"), "left")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum((F.col("n_samples") >= 400).cast("int")).cast("long").alias("windowable_clips"),
            F.sum("frames_formula").cast("long").alias("total_frames"),
            F.expr("bool_and(coalesce(frames_exploded, 0) = frames_formula)").alias(
                "explode_matches_formula"
            ),
        )
        .orderBy("source")
    )


@register(
    "text_alphabet_profile",
    doc="character-class profile per lang: letter / digit / whitespace "
    "/ punctuation-other shares of the raw text bytes -- the script "
    "sanity check beside lang-ID (a 'fr' slice full of digits is a "
    "parser bug, not French). Regex counts are length differences "
    "(regexp_replace strip then length), identical on both engines; "
    "one scan, one lang rollup.",
    oracle="""
WITH c AS (
  SELECT lang,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_letter,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         length(text) - length(regexp_replace(text, '[ \\t\\n]', '', 'g')) AS n_space
  FROM documents WHERE text IS NOT NULL
)
SELECT lang,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       ROUND(SUM(n_letter)::DOUBLE / SUM(n_chars), 4) AS letter_share,
       ROUND(SUM(n_digit)::DOUBLE / SUM(n_chars), 4) AS digit_share,
       ROUND(SUM(n_space)::DOUBLE / SUM(n_chars), 4) AS space_share,
       ROUND((SUM(n_chars) - SUM(n_letter) - SUM(n_digit) - SUM(n_space))::DOUBLE
             / SUM(n_chars), 4) AS other_share
FROM c GROUP BY lang ORDER BY lang
""",
)
def text_alphabet_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull()
    )
    strip = lambda pat: F.length("text") - F.length(F.regexp_replace("text", pat, ""))  # noqa: E731
    c = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        strip("[A-Za-z]").alias("n_letter"),
        strip("[0-9]").alias("n_digit"),
        strip("[ \\t\\n]").alias("n_space"),
    )
    g = c.groupBy("lang").agg(
        F.sum("n_chars").alias("nc"),
        F.sum("n_letter").alias("nl"),
        F.sum("n_digit").alias("nd"),
        F.sum("n_space").alias("ns"),
    )
    return g.select(
        "lang",
        F.col("nc").cast("long").alias("n_chars"),
        F.round(F.col("nl").cast("double") / F.col("nc"), 4).alias("letter_share"),
        F.round(F.col("nd").cast("double") / F.col("nc"), 4).alias("digit_share"),
        F.round(F.col("ns").cast("double") / F.col("nc"), 4).alias("space_share"),
        F.round(
            (F.col("nc") - F.col("nl") - F.col("nd") - F.col("ns")).cast("double") / F.col("nc"),
            4,
        ).alias("other_share"),
    ).orderBy("lang")


@register(
    "text_char_entropy_rate",
    doc="character-level entropy rate per lang: H(next char | current "
    "char) = H(bigram) - H(unigram-prefix), the compressibility / "
    "gibberish signal that needs no tokenizer. Bigrams explode via an "
    "in-row sequence transform (Spark) / list comprehension (DuckDB); "
    "two vocabulary-bounded rollups (charset^2 cells max), entropy "
    "sums in exact count ratios, log2 at presentation.",
    oracle="""
WITH bg AS (
  SELECT lang, unnest([substr(text, i, 2) for i in range(1, length(text))]) AS b
  FROM documents WHERE text IS NOT NULL AND length(text) >= 2
),
bc AS (SELECT lang, b, count(*)::DOUBLE AS c FROM bg GROUP BY lang, b),
bt AS (SELECT lang, SUM(c) AS t FROM bc GROUP BY lang),
hb AS (
  SELECT bc.lang, -SUM((c / t) * ln(c / t) / ln(2.0)) AS h2
  FROM bc JOIN bt ON bt.lang = bc.lang GROUP BY bc.lang
),
uc AS (SELECT lang, substr(b, 1, 1) AS u, SUM(c) AS c FROM bc GROUP BY lang, substr(b, 1, 1)),
hu AS (
  SELECT uc.lang, -SUM((uc.c / bt.t) * ln(uc.c / bt.t) / ln(2.0)) AS h1
  FROM uc JOIN bt ON bt.lang = uc.lang GROUP BY uc.lang
)
SELECT hb.lang,
       ROUND(hb.h2, 4) AS h_bigram,
       ROUND(hu.h1, 4) AS h_unigram,
       ROUND(hb.h2 - hu.h1, 4) AS entropy_rate
FROM hb JOIN hu ON hu.lang = hb.lang
ORDER BY hb.lang
""",
)
def text_char_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.length("text") >= 2)
    )
    bg = docs.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 1),
                lambda i: F.substring(F.col("text"), i, 2),
            )
        ).alias("b"),
    )
    bc = bg.groupBy("lang", "b").agg(F.count(F.lit(1)).cast("double").alias("c"))
    bt = bc.groupBy(F.col("lang").alias("_l")).agg(F.sum("c").alias("t"))
    ln2 = F.log(F.lit(2.0))
    hb = (
        bc.join(F.broadcast(bt), F.col("lang") == F.col("_l"))
        .groupBy("lang")
        .agg((-F.sum((F.col("c") / F.col("t")) * F.log(F.col("c") / F.col("t")) / ln2)).alias("h2"))
    )
    uc = bc.groupBy("lang", F.substring("b", 1, 1).alias("u")).agg(F.sum("c").alias("cu"))
    hu = (
        uc.join(F.broadcast(bt), F.col("lang") == F.col("_l"))
        .groupBy(F.col("lang").alias("lang2"))
        .agg(
            (-F.sum((F.col("cu") / F.col("t")) * F.log(F.col("cu") / F.col("t")) / ln2)).alias("h1")
        )
    )
    return (
        hb.join(hu, F.col("lang") == F.col("lang2"))
        .select(
            "lang",
            F.round("h2", 4).alias("h_bigram"),
            F.round("h1", 4).alias("h_unigram"),
            F.round(F.col("h2") - F.col("h1"), 4).alias("entropy_rate"),
        )
        .orderBy("lang")
    )


@register(
    "sample_neyman_allocation",
    doc="Neyman-optimal stratified sampling DESIGN: a 1000-row budget "
    "split across (source) strata proportional to N_h * sigma_h "
    "(stddev of doc length within the stratum) -- the allocation that "
    "minimizes estimator variance, vs plain proportional. Weights "
    "snapped to the 2^-20 grid, seats by the SAME integer largest-"
    "remainder method as agg_largest_remainder (rank window over the "
    "stratum rollup, bounded). Emitting the design, not a sample: at "
    "100 TB the design is what the scan-time sampler consumes.",
    oracle="""
WITH s AS (
  SELECT source, count(*)::BIGINT AS n_h,
         floor(coalesce(stddev_pop(n_chars), 0) * 1048576 + 0.5) / 1048576 AS sd
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_h,
         CAST(floor(n_h * sd * 1048576 + 0.5) AS BIGINT) AS wq
  FROM s
),
t AS (SELECT SUM(wq) AS tot FROM w),
b AS (
  SELECT source, n_h, wq,
         (1000 * wq) // t.tot AS base,
         (1000 * wq) % t.tot AS rem
  FROM w CROSS JOIN t
),
l AS (SELECT 1000 - SUM(base) AS leftover FROM b),
r AS (
  SELECT source, n_h, base, rem,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
  FROM b
)
SELECT source, n_h,
       CAST(base + CASE WHEN rk <= (SELECT leftover FROM l) THEN 1 ELSE 0 END AS BIGINT) AS n_sample,
       ROUND((base + CASE WHEN rk <= (SELECT leftover FROM l) THEN 1 ELSE 0 END) / n_h::DOUBLE, 6) AS sampling_frac
FROM r ORDER BY source
""",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    g = float(1 << 20)
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_h"),
        (F.floor(F.coalesce(F.stddev_pop("n_chars"), F.lit(0.0)) * g + 0.5) / g).alias("sd"),
    )
    w = s.select(
        "source",
        "n_h",
        F.floor(F.col("n_h") * F.col("sd") * g + 0.5).cast("long").alias("wq"),
    )
    t = w.agg(F.sum("wq").alias("tot"))
    b = w.crossJoin(F.broadcast(t)).select(
        "source",
        "n_h",
        F.expr("(1000 * wq) div tot").alias("base"),
        F.pmod(1000 * F.col("wq"), F.col("tot")).alias("rem"),
    )
    leftover = b.agg((F.lit(1000) - F.sum("base")).alias("leftover"))
    rk = F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    return (
        b.withColumn("rk", rk)
        .crossJoin(F.broadcast(leftover))
        .select(
            "source",
            "n_h",
            (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
            .cast("long")
            .alias("n_sample"),
            F.round(
                (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
                / F.col("n_h").cast("double"),
                6,
            ).alias("sampling_frac"),
        )
        .orderBy("source")
    )


@register(
    "sim_sparse_tfidf_pairs",
    doc="sparse TF-IDF cosine doc pairs >= 0.3 -- the weighted-vector "
    "sibling of the Jaccard tiers, as sparse linear algebra on "
    "DataFrames: (doc, term, weight) rows self-join ON THE TERM (the "
    "only exchange key), products partial-sum per pair, norms "
    "broadcast back. Candidate volume is bounded by a df-cap prune "
    "(terms in > 100 docs drop before the join -- the stopword "
    "posting-list control from index_postings), so the join is "
    "rare-term-density-sized, not n^2. Weights snapped to the 2^-20 "
    "grid; the threshold tests the ROUNDED cosine (the bm25 "
    "determinism rule).",
    oracle="""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS term
  FROM documents WHERE text IS NOT NULL
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         floor(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) * 1048576 + 0.5) / 1048576 AS w
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE df.df <= 100
),
nrm AS (
  SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY id_a, id_b
)
SELECT p.id_a, p.id_b,
       ROUND(p.dot / (na.nrm * nb.nrm), 4) AS cosine
FROM p JOIN nrm na ON na.doc_id = p.id_a JOIN nrm nb ON nb.doc_id = p.id_b
WHERE ROUND(p.dot / (na.nrm * nb.nrm), 4) >= 0.3
ORDER BY id_a, id_b
""",
)
def sim_sparse_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    g = float(1 << 20)
    tok = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.explode(textstats.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    # r12 (guide 2.4): df and the doc norm attach as WINDOW aggregates
    # (one term exchange, one doc exchange) instead of two rollup +
    # join-back pairs, and the term self-join becomes one groupBy(term)
    # + in-bucket pair expansion (the df <= 100 rare-term cap bounds
    # every bucket, so per-term state is <= 100 structs). Norms ride
    # the bucket rows as one extra double, so the two post-aggregation
    # norm joins disappear: after tf, the whole query is three
    # exchanges (term window, doc window, pair rollup) and zero joins.
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .filter(F.col("df") <= 100)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.floor(
                    F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) * g + 0.5
                )
                / g
            ).alias("w"),
        )
    )
    wn = w.withColumn(
        "nrm", F.sqrt(F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("doc_id")))
    )
    pairs = neardup.block_pairs(wn, ["term"], F.struct("doc_id", "w", "nrm")).select(
        F.col("_a.doc_id").alias("id_a"),
        F.col("_b.doc_id").alias("id_b"),
        (F.col("_a.w") * F.col("_b.w")).alias("_ww"),
        F.col("_a.nrm").alias("na"),
        F.col("_b.nrm").alias("nb"),
    )
    p = pairs.groupBy("id_a", "id_b").agg(
        F.sum("_ww").alias("dot"), F.first("na").alias("na"), F.first("nb").alias("nb")
    )
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4)
    return (
        p.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
        .orderBy("id_a", "id_b")
    )


@register(
    "eval_pr_curve",
    doc="precision/recall/F1 curve of the quality-score model against "
    "the is-English label over a fixed 19-point threshold grid "
    "(t = i/20): scores snapped to the 2^-20 grid (the AUC pairing), "
    "rolled up PER DISTINCT SCORE first, then a broadcast non-equi "
    "join against the 19-row grid -- the curve costs one rollup "
    "shuffle however large the corpus; the grid side is constant.",
    oracle=f"""
WITH sc AS (
  SELECT floor((1.0 / (1.0 + exp(-({_quality_z_sql()})))) * 1048576 + 0.5) / 1048576 AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
g AS (
  SELECT s, SUM(y)::DOUBLE AS np, SUM(1 - y)::DOUBLE AS nn FROM sc GROUP BY s
),
tot AS (SELECT SUM(np) AS p, SUM(nn) AS n FROM g),
grid AS (SELECT unnest(range(1, 20)) AS i),
cell AS (
  SELECT grid.i,
         SUM(g.np) FILTER (WHERE g.s >= grid.i / 20.0) AS tp,
         SUM(g.nn) FILTER (WHERE g.s >= grid.i / 20.0) AS fp
  FROM grid CROSS JOIN g
  GROUP BY grid.i
)
SELECT ROUND(i / 20.0, 2) AS threshold,
       CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
       CAST(COALESCE(fp, 0) AS BIGINT) AS fp,
       ROUND(COALESCE(tp / NULLIF(tp + fp, 0), 0), 4) AS precision,
       ROUND(COALESCE(tp, 0) / p, 4) AS recall,
       ROUND(COALESCE(2 * tp / NULLIF(2 * tp + fp + (p - COALESCE(tp, 0)), 0), 0), 4) AS f1
FROM cell CROSS JOIN tot
ORDER BY threshold
""",
)
def eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    gsnap = F.lit(float(1 << 20))
    snapped = (
        F.floor(filtering.linear_quality_score(F.col("text")) * gsnap + F.lit(0.5))
        / gsnap
    )
    sc = docs.select(
        snapped.alias("s"), (F.col("lang") == "en").cast("int").alias("y")
    )
    g = sc.groupBy("s").agg(
        F.sum("y").cast("double").alias("np"),
        F.sum(1 - F.col("y")).cast("double").alias("nn"),
    )
    tot = g.agg(F.sum("np").alias("p"), F.sum("nn").alias("n"))
    grid = spark.range(1, 20).select(F.col("id").cast("int").alias("i"))
    cell = (
        g.crossJoin(F.broadcast(grid))
        .groupBy("i")
        .agg(
            F.sum(F.when(F.col("s") >= F.col("i") / 20.0, F.col("np"))).alias("tp"),
            F.sum(F.when(F.col("s") >= F.col("i") / 20.0, F.col("nn"))).alias("fp"),
        )
    )
    tp0 = F.coalesce(F.col("tp"), F.lit(0.0))
    return (
        cell.crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("i") / 20.0, 2).alias("threshold"),
            tp0.cast("long").alias("tp"),
            F.coalesce(F.col("fp"), F.lit(0.0)).cast("long").alias("fp"),
            F.round(
                F.coalesce(F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0.0)), F.lit(0.0)),
                4,
            ).alias("precision"),
            F.round(tp0 / F.col("p"), 4).alias("recall"),
            F.round(
                F.coalesce(
                    2 * F.col("tp")
                    / F.nullif(
                        2 * F.col("tp") + F.col("fp") + (F.col("p") - tp0), F.lit(0.0)
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("f1"),
        )
        .orderBy("threshold")
    )


@register(
    "text_hapax_ratio",
    doc="hapax legomena profile per source: vocabulary size, share of "
    "terms occurring exactly once within the source, and the hapax "
    "share of total token mass -- the vocabulary-health companion to "
    "the Zipf/Heaps fits (a high hapax share flags OCR noise or "
    "boilerplate-stripped corpora). One (source, term) count rollup; "
    "everything else is integer arithmetic over per-source rollups.",
    oracle="""
WITH tok AS (
  SELECT source, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')) AS term
  FROM documents
),
tf AS (SELECT source, term, count(*)::BIGINT AS tf FROM tok GROUP BY source, term)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(count(*) FILTER (WHERE tf = 1) AS BIGINT) AS hapax,
       CAST(SUM(tf) AS BIGINT) AS token_mass,
       ROUND(count(*) FILTER (WHERE tf = 1) * 1.0 / count(*), 4) AS hapax_vocab_share,
       ROUND(count(*) FILTER (WHERE tf = 1) * 1.0 / SUM(tf), 4) AS hapax_token_share
FROM tf GROUP BY source ORDER BY source
""",
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select(
        "source",
        F.explode(textstats.tokens(F.lower(F.col("text")))).alias("term"),
    )
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    hapax = F.sum(F.when(F.col("tf") == 1, 1).otherwise(0))
    return (
        tf.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            hapax.alias("hapax"),
            F.sum("tf").alias("token_mass"),
            F.round(hapax * 1.0 / F.count(F.lit(1)), 4).alias("hapax_vocab_share"),
            F.round(hapax * 1.0 / F.sum("tf"), 4).alias("hapax_token_share"),
        )
        .orderBy("source")
    )


@register(
    "text_js_divergence",
    doc="pairwise Jensen-Shannon divergence matrix between source "
    "unigram distributions: only the COMMON-vocabulary terms ride the "
    "term-keyed pair join (term-partitioned equi-join, scale-safe); "
    "each side's disjoint-support mass contributes in closed form "
    "(sum_only p ln 2 = (1 - sum_common p) ln 2), so JS is exact "
    "without materializing the vocabulary union per pair. The "
    "symmetric, bounded complement to the per-source KL drift.",
    oracle="""
WITH tok AS (
  SELECT source, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')) AS term
  FROM documents
),
tf AS (SELECT source, term, count(*)::DOUBLE AS tf FROM tok GROUP BY source, term),
tot AS (SELECT source, SUM(tf) AS tot FROM tf GROUP BY source),
p AS (
  SELECT tf.source, tf.term, tf.tf / tot.tot AS p
  FROM tf JOIN tot ON tot.source = tf.source
),
common AS (
  SELECT a.source AS sa, b.source AS sb,
         SUM(a.p * ln(2.0 * a.p / (a.p + b.p))
             + b.p * ln(2.0 * b.p / (a.p + b.p))) AS core,
         SUM(a.p) AS cpa, SUM(b.p) AS cpb
  FROM p a JOIN p b ON b.term = a.term AND a.source < b.source
  GROUP BY sa, sb
)
SELECT sa AS source_a, sb AS source_b,
       ROUND(0.5 * (core + ((1.0 - cpa) + (1.0 - cpb)) * ln(2.0)), 4) AS js_divergence
FROM common ORDER BY source_a, source_b
""",
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select(
        "source",
        F.explode(textstats.tokens(F.lower(F.col("text")))).alias("term"),
    )
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    tot = tf.groupBy("source").agg(F.sum("tf").alias("tot"))
    p = tf.join(F.broadcast(tot), "source").select(
        "source", "term", (F.col("tf") / F.col("tot")).alias("p")
    )
    a = p.select(F.col("source").alias("sa"), "term", F.col("p").alias("pa"))
    b = p.select(F.col("source").alias("sb"), F.col("term").alias("termb"), F.col("p").alias("pb"))
    common = (
        a.join(b, (F.col("term") == F.col("termb")) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(
            F.sum(
                F.col("pa") * F.log(2.0 * F.col("pa") / (F.col("pa") + F.col("pb")))
                + F.col("pb") * F.log(2.0 * F.col("pb") / (F.col("pa") + F.col("pb")))
            ).alias("core"),
            F.sum("pa").alias("cpa"),
            F.sum("pb").alias("cpb"),
        )
    )
    return common.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.round(
            0.5
            * (
                F.col("core")
                + ((1.0 - F.col("cpa")) + (1.0 - F.col("cpb"))) * F.log(F.lit(2.0))
            ),
            4,
        ).alias("js_divergence"),
    ).orderBy("source_a", "source_b")


@register(
    "embed_dim_variance_profile",
    doc="per-dimension variance profile of the embedding table (the "
    "PCA-preprocessing read: which dims carry signal, whether "
    "whitening is needed before quantization/ANN): posexplode to "
    "(dim, val) -- the IVF elementwise-stats idiom -- one rollup for "
    "mean/var_pop per dim, var_share against the broadcast total. "
    "64 output rows however many vectors; vectors never ride a "
    "shuffle wider than (dim, val) pairs.",
    oracle="""
WITH dv AS (
  SELECT unnest(range(0, 64)) AS dim, unnest(embedding)::DOUBLE AS val
  FROM embeddings
),
s AS (
  SELECT dim, AVG(val) AS mean, var_pop(val) AS var FROM dv GROUP BY dim
),
t AS (SELECT SUM(var) AS tot FROM s)
SELECT CAST(s.dim AS INT) AS dim,
       ROUND(s.mean, 6) AS mean,
       ROUND(s.var, 6) AS var_pop,
       ROUND(s.var / t.tot, 6) AS var_share
FROM s CROSS JOIN t
ORDER BY dim
""",
)
def embed_dim_variance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    dv = emb.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select("dim", F.col("val").cast("double").alias("val"))
    s = dv.groupBy("dim").agg(
        F.avg("val").alias("mean"), F.var_pop("val").alias("var")
    )
    t = s.agg(F.sum("var").alias("tot"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round("mean", 6).alias("mean"),
            F.round("var", 6).alias("var_pop"),
            F.round(F.col("var") / F.col("tot"), 6).alias("var_share"),
        )
        .orderBy("dim")
    )


@register(
    "multimodal_image_tiles",
    doc="image tile-grid plumbing (the ViT patchify shape): documents "
    "adapted as fake row-major 8-bit grayscale images (side = "
    "isqrt(n_chars), content = text bytes), tiled into 16x16 patches "
    "with stride 16 -- the 2-D fan-out-before-encode. Per source: "
    "images, tileable images, total tiles, mean tiles/image, and a "
    "cross-check that the 2-D EXPLODED (tile_y x tile_x) count equals "
    "the closed-form (side div 16)^2 on every image (driver hash "
    "fails if grid fan-out and formula ever disagree). All integer "
    "arithmetic; the real decoder stays behind the documented codec "
    "stub (operators/multimodal.py).",
    oracle="""
WITH m AS (
  SELECT doc_id, source,
         CAST(floor(sqrt(coalesce(n_chars, 0))) AS BIGINT) AS side
  FROM documents
),
f AS (
  SELECT doc_id, source, side, (side // 16) * (side // 16) AS tiles_formula,
         side // 16 AS g
  FROM m
),
x AS (
  SELECT f.doc_id, count(*) AS tiles_exploded
  FROM f,
       LATERAL (SELECT unnest(range(0, f.g)) AS ty),
       LATERAL (SELECT unnest(range(0, f.g)) AS tx)
  WHERE f.g >= 1
  GROUP BY f.doc_id
)
SELECT f.source,
       count(*)::BIGINT AS n_images,
       CAST(SUM(CASE WHEN f.g >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS tileable_images,
       CAST(SUM(f.tiles_formula) AS BIGINT) AS total_tiles,
       ROUND(AVG(f.tiles_formula), 4) AS mean_tiles_per_image,
       bool_and(coalesce(x.tiles_exploded, 0) = f.tiles_formula) AS explode_matches_formula
FROM f LEFT JOIN x ON x.doc_id = f.doc_id
GROUP BY f.source ORDER BY f.source
""",
)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    m = docs.select(
        "doc_id",
        "source",
        F.floor(F.sqrt(F.coalesce(F.col("n_chars"), F.lit(0)))).cast("long").alias("side"),
    )
    f = m.select(
        "doc_id",
        "source",
        "side",
        F.expr("(side div 16) * (side div 16)").alias("tiles_formula"),
        F.expr("side div 16").alias("g"),
    )
    x = (
        f.filter(F.col("g") >= 1)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("g") - 1)).alias("ty"),
            "g",
        )
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("g") - 1)).alias("tx"),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tiles_exploded"))
    )
    joined = f.join(x, "doc_id", "left")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum((F.col("g") >= 1).cast("int")).alias("tileable_images"),
            F.sum("tiles_formula").alias("total_tiles"),
            F.round(F.avg("tiles_formula"), 4).alias("mean_tiles_per_image"),
            F.min(
                (F.coalesce(F.col("tiles_exploded"), F.lit(0)) == F.col("tiles_formula")).cast("boolean")
            ).alias("explode_matches_formula"),
        )
        .orderBy("source")
    )


@register(
    "join_radius_grid",
    doc="fixed-radius 2-D neighbor join (r = 0.02 on the first two "
    "embedding dims) via GRID-CELL blocking: points land in "
    "floor(coord/r) cells, candidate pairs come from the 3x3 "
    "neighborhood -- realized as an equi-join on (cell_x + dx, "
    "cell_y + dy) over the 9 broadcast offsets -- then the exact "
    "distance verify prunes. LOSSLESS: two points within r can "
    "differ by at most one cell per axis, so every true pair appears "
    "in some offset bucket; the oracle is the O(n^2) direct distance "
    "join, so the driver hash proves it. Canonical a<b dedup "
    "BEFORE the verify; the DJ/spatial-blocking shape for "
    "cluster-dedup and geo joins.",
    oracle="""
WITH p AS (
  SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)), 6) AS dist
FROM p a JOIN p b ON b.vec_id > a.vec_id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.02 * 0.02
ORDER BY id_a, id_b
""",
)
def join_radius_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = 0.02
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    p = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
        F.floor(F.element_at("embedding", 1).cast("double") / r).alias("cx"),
        F.floor(F.element_at("embedding", 2).cast("double") / r).alias("cy"),
    )
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    a = p.select(
        F.col("vec_id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        "cx",
        "cy",
    ).crossJoin(F.broadcast(offsets))
    b = p.select(
        F.col("vec_id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(
            b,
            (F.col("cx") + F.col("dx") == F.col("bx"))
            & (F.col("cy") + F.col("dy") == F.col("by"))
            & (F.col("id_b") > F.col("id_a")),
        )
        .filter(d2 <= F.lit(r * r))
        .select("id_a", "id_b", F.round(F.sqrt(d2), 6).alias("dist"))
        .orderBy("id_a", "id_b")
    )


def _matryoshka_oracle(dim: int = 64, pdim: int = 16, k: int = 5) -> str:
    """Both rankings replayed exactly: full-dim cosine top-k (truth) and
    PREFIX-dim cosine top-k (the Matryoshka candidate tier), identical
    left folds, ties on c_id."""
    full = f"{_duck_dot('qv.vec', 'cv.vec', dim)} / ({_duck_norm('qv.vec')} * {_duck_norm('cv.vec')})"
    pref = (
        f"{_duck_dot('qv.vec', 'cv.vec', pdim)} "
        f"/ (sqrt({_duck_dot('qv.vec', 'qv.vec', pdim)}) * sqrt({_duck_dot('cv.vec', 'cv.vec', pdim)}))"
    )

    def ranking(score: str, name: str) -> str:
        return f"""
{name}_scored AS (
  SELECT qv.vec_id AS q_id, cv.vec_id AS c_id, {score} AS cosine
  FROM v qv JOIN v cv ON cv.vec_id <> qv.vec_id
  WHERE qv.vec_id < 20
),
{name} AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
    FROM {name}_scored
  ) WHERE rn <= {k}
)"""

    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),{ranking(full, 'truth')},{ranking(pref, 'approx')}
SELECT t.q_id,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS recall
FROM truth t LEFT JOIN approx a ON a.q_id = t.q_id AND a.c_id = t.c_id
GROUP BY t.q_id ORDER BY t.q_id
"""


@register(
    "embed_matryoshka_recall",
    oracle=_matryoshka_oracle(),
    doc="Matryoshka prefix-dimension evaluation: recall@5 of the "
    "16-dim-PREFIX cosine ranking against the full 64-dim truth, per "
    "query -- the measurement behind MRL-style coarse-to-fine "
    "retrieval (search the cheap prefix tier, rerank the survivors "
    "full-width). Both rankings are exact identical left folds; the "
    "prefix tier reads 4x fewer floats per candidate, which at 100 TB "
    "is the column-pruned scan win the variance-profile query sizes.",
)
def embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    truth = similarity.topk_cosine(queries, corpus, k=5).select("q_id", "c_id")
    pq = queries.select("q_id", F.slice("q_vec", 1, 16).alias("q_vec"))
    pc = corpus.select("c_id", F.slice("c_vec", 1, 16).alias("c_vec"))
    approx = similarity.topk_cosine(pq, pc, k=5).select(
        "q_id", "c_id", F.lit(1).alias("_hit")
    )
    return (
        truth.join(approx, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("recall"),
        )
        .orderBy("q_id")
    )


def _matryoshka_rerank_oracle(dim: int = 64, pdim: int = 16, kc: int = 20, k: int = 5) -> str:
    """Truth = full-dim top-k; pipeline = prefix-dim top-kc candidates
    reranked full-width to top-k. All three rankings exact."""
    full = f"{_duck_dot('qv.vec', 'cv.vec', dim)} / ({_duck_norm('qv.vec')} * {_duck_norm('cv.vec')})"
    pref = (
        f"{_duck_dot('qv.vec', 'cv.vec', pdim)} "
        f"/ (sqrt({_duck_dot('qv.vec', 'qv.vec', pdim)}) * sqrt({_duck_dot('cv.vec', 'cv.vec', pdim)}))"
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
truth AS (
  SELECT q_id, c_id FROM (
    SELECT qv.vec_id AS q_id, cv.vec_id AS c_id,
           ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY {full} DESC, cv.vec_id) AS rn
    FROM v qv JOIN v cv ON cv.vec_id <> qv.vec_id
    WHERE qv.vec_id < 20
  ) WHERE rn <= {k}
),
cand AS (
  SELECT q_id, c_id FROM (
    SELECT qv.vec_id AS q_id, cv.vec_id AS c_id,
           ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY {pref} DESC, cv.vec_id) AS rn
    FROM v qv JOIN v cv ON cv.vec_id <> qv.vec_id
    WHERE qv.vec_id < 20
  ) WHERE rn <= {kc}
),
rer AS (
  SELECT q_id, c_id FROM (
    SELECT cand.q_id, cand.c_id,
           ROW_NUMBER() OVER (
             PARTITION BY cand.q_id
             ORDER BY {full} DESC, cv.vec_id) AS rn
    FROM cand JOIN v qv ON qv.vec_id = cand.q_id
              JOIN v cv ON cv.vec_id = cand.c_id
  ) WHERE rn <= {k}
)
SELECT t.q_id,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN r.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN r.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS recall
FROM truth t LEFT JOIN rer r ON r.q_id = t.q_id AND r.c_id = t.c_id
GROUP BY t.q_id ORDER BY t.q_id
"""


@register(
    "sim_matryoshka_rerank",
    oracle=_matryoshka_rerank_oracle(),
    doc="two-stage Matryoshka retrieval PIPELINE: the cheap 16-dim "
    "prefix tier proposes top-20 candidates, the full 64-dim cosine "
    "reranks the survivors to top-5 -- recall@5 vs the exact top-5 "
    "shows what the 4x-narrower first-pass scan costs end to end "
    "(vs embed_matryoshka_recall's single-tier readout). The rerank "
    "join touches 20 rows per query however large the corpus -- the "
    "coarse-to-fine shape every production vector store runs.",
)
def sim_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    truth = similarity.topk_cosine(queries, corpus, k=5).select("q_id", "c_id")
    pq = queries.select("q_id", F.slice("q_vec", 1, 16).alias("q_vec"))
    pc = corpus.select("c_id", F.slice("c_vec", 1, 16).alias("c_vec"))
    cand = similarity.topk_cosine(pq, pc, k=20).select("q_id", "c_id")
    # rerank the survivors full-width: candidate-bounded join, then the
    # exact cosine only on 20 rows per query
    rer_scored = (
        cand.join(queries, "q_id")
        .join(corpus, "c_id")
        .select(
            "q_id",
            "c_id",
            similarity.cosine(
                F.col("q_vec").cast("array<double>"), F.col("c_vec").cast("array<double>")
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    rer = (
        rer_scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select("q_id", "c_id", F.lit(1).alias("_hit"))
    )
    return (
        truth.join(rer, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("recall"),
        )
        .orderBy("q_id")
    )


@register(
    "eval_cohens_kappa",
    oracle=_LANGID_PRED_SQL
    + """
, cell AS (
  SELECT CASE WHEN predicted = 'en' THEN 1 ELSE 0 END AS a,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b
  FROM p
),
agg AS (
  SELECT COUNT(*)::DOUBLE AS n,
         SUM(CASE WHEN a = b THEN 1 ELSE 0 END)::DOUBLE AS agree,
         SUM(a)::DOUBLE AS pa, SUM(b)::DOUBLE AS pb
  FROM cell
)
SELECT CAST(n AS BIGINT) AS n_docs,
       ROUND(agree / n, 4) AS p_observed,
       ROUND((pa * pb + (n - pa) * (n - pb)) / (n * n), 4) AS p_expected,
       ROUND((agree / n - (pa * pb + (n - pa) * (n - pb)) / (n * n))
             / (1.0 - (pa * pb + (n - pa) * (n - pb)) / (n * n)), 4) AS kappa
FROM agg
""",
    doc="Cohen's kappa chance-corrected agreement between the langid "
    "heuristic's is-English call and the stored label: po from the "
    "diagonal, pe from the marginal products -- the single-number "
    "rater-agreement summary the eval_langid_metrics confusion table "
    "feeds. One scan over the shared predicted-language lineage.",
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    cell = docs.select(
        (textstats.lang_id(F.col("text")) == "en").cast("int").alias("a"),
        (F.col("lang") == "en").cast("int").alias("b"),
    )
    agg = cell.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("int")).cast("double").alias("agree"),
        F.sum("a").cast("double").alias("pa"),
        F.sum("b").cast("double").alias("pb"),
    )
    n, pa, pb = F.col("n"), F.col("pa"), F.col("pb")
    pe = (pa * pb + (n - pa) * (n - pb)) / (n * n)
    po = F.col("agree") / n
    return agg.select(
        n.cast("long").alias("n_docs"),
        F.round(po, 4).alias("p_observed"),
        F.round(pe, 4).alias("p_expected"),
        F.round((po - pe) / (1.0 - pe), 4).alias("kappa"),
    )


_RAKE_STOPS = textstats.STOPWORDS["en"]


@register(
    "text_keyphrase_rake",
    doc="RAKE keyphrase extraction over the corpus: candidate phrases "
    "are maximal stopword-free token runs (gaps-and-islands: phrase "
    "id = pos - rownum over non-stop tokens, per doc), word scores "
    "deg/freq where deg sums the lengths of every phrase instance "
    "containing the word, phrase score = sum of its word scores; "
    "identical phrase texts aggregate corpus-wide and the top 15 by "
    "(score desc, phrase) come back. All shuffles are (doc, phrase) "
    "or (term) keyed; the only windows partition by doc_id.",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS term FROM t
),
ns AS (
  SELECT doc_id, pos, term,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM tok
  WHERE NOT list_contains({_RAKE_STOPS!r}, term)
),
ph AS (
  SELECT doc_id, grp, COUNT(*)::BIGINT AS len,
         string_agg(term, ' ' ORDER BY pos) AS phrase
  FROM ns GROUP BY doc_id, grp
),
ws AS (
  SELECT ns.term,
         COUNT(*)::DOUBLE AS freq,
         SUM(ph.len)::DOUBLE AS deg
  FROM ns JOIN ph ON ph.doc_id = ns.doc_id AND ph.grp = ns.grp
  GROUP BY ns.term
),
psc AS (
  SELECT ph.doc_id, ph.grp, ph.phrase,
         SUM(ws.deg / ws.freq) AS score
  FROM ns JOIN ph ON ph.doc_id = ns.doc_id AND ph.grp = ns.grp
          JOIN ws ON ws.term = ns.term
  GROUP BY ph.doc_id, ph.grp, ph.phrase
)
SELECT phrase,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       ROUND(MAX(score), 4) AS rake_score
FROM psc
GROUP BY phrase
ORDER BY rake_score DESC, phrase
LIMIT 15
""",
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select(
        "doc_id",
        F.posexplode(textstats.tokens(F.lower(F.col("text")))).alias("pos", "term"),
    )
    ns = (
        tok.filter(~F.col("term").isin(*_RAKE_STOPS))
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
        )
    )
    ph = ns.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda x: x["term"],
            ),
            " ",
        ).alias("phrase"),
    )
    ws = (
        ns.join(ph.select("doc_id", "grp", "len"), ["doc_id", "grp"])
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("double").alias("freq"),
            F.sum("len").cast("double").alias("deg"),
        )
    )
    psc = (
        ns.join(ph, ["doc_id", "grp"])
        .join(ws, "term")
        .groupBy("doc_id", "grp", "phrase")
        .agg(F.sum(F.col("deg") / F.col("freq")).alias("score"))
    )
    return (
        psc.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.round(F.max("score"), 4).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), F.asc("phrase"))
        .limit(15)
    )


@register(
    "text_term_burstiness",
    doc="term burstiness (Church-Gale overdispersion): for the 50 "
    "highest-df terms, the index of dispersion var/mean of the "
    "per-document term frequency -- bursty content words cluster in "
    "few docs (index >> 1) while function words spread Poisson-like "
    "(index ~ 1); the keyword-vs-glue diagnostic next to TF-IDF. "
    "Per-doc tf INCLUDES zeros via the closed form (moments over "
    "occurring docs extended algebraically to the full corpus), so "
    "no doc x vocab blow-up exists anywhere.",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')) AS term
  FROM documents
),
nd AS (SELECT count(*)::DOUBLE AS nd FROM documents),
tf AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM tok GROUP BY term, doc_id),
st AS (
  SELECT term,
         COUNT(*)::BIGINT AS df,
         SUM(tf) AS s1,
         SUM(tf * tf) AS s2
  FROM tf GROUP BY term
),
top AS (
  SELECT term, df, s1, s2 FROM st ORDER BY df DESC, term LIMIT 50
)
SELECT term, df,
       ROUND(s1 / nd.nd, 6) AS mean_tf,
       ROUND((s2 / nd.nd - (s1 / nd.nd) * (s1 / nd.nd)) / (s1 / nd.nd), 4) AS dispersion
FROM top CROSS JOIN nd
ORDER BY dispersion DESC, term
""",
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select(
        "doc_id",
        F.explode(textstats.tokens(F.lower(F.col("text")))).alias("term"),
    )
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    tf = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    st = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("s1"),
        F.sum(F.col("tf") * F.col("tf")).alias("s2"),
    )
    # k-bounded TakeOrderedAndProject -- no vocabulary-wide rank window
    top = st.orderBy(F.desc("df"), F.asc("term")).limit(50)
    mean = F.col("s1") / F.col("nd")
    return (
        top.crossJoin(F.broadcast(nd))
        .select(
            "term",
            "df",
            F.round(mean, 6).alias("mean_tf"),
            F.round((F.col("s2") / F.col("nd") - mean * mean) / mean, 4).alias(
                "dispersion"
            ),
        )
        .orderBy(F.desc("dispersion"), F.asc("term"))
    )


def _topk_filtered_oracle(dim: int = 64, k: int = 5) -> str:
    full = f"{_duck_dot('qv.vec', 'cv.vec', dim)} / ({_duck_norm('qv.vec')} * {_duck_norm('cv.vec')})"
    return f"""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings)
SELECT q_id, c_id, ROUND(cosine, 6) AS cosine FROM (
  SELECT qv.vec_id AS q_id, cv.vec_id AS c_id, {full} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY {full} DESC, cv.vec_id) AS rn
  FROM v qv JOIN v cv ON cv.vec_id <> qv.vec_id AND cv.label = 3
  WHERE qv.vec_id < 20
) WHERE rn <= {k}
ORDER BY q_id, c_id
"""


@register(
    "sim_topk_filtered",
    oracle=_topk_filtered_oracle(),
    doc="FILTERED vector search: exact cosine top-5 among corpus "
    "vectors restricted to label = 3 -- the metadata-predicate + "
    "k-NN combination every production vector store serves "
    "(pre-filtering, not post-filtering: the label predicate prunes "
    "the corpus SCAN before any distance math, so a selective filter "
    "cuts the dominant cost proportionally -- post-filter top-k would "
    "both waste distance work and under-fill k). Plan shape: "
    "pushed-down label filter -> broadcast query set -> per-query "
    "k-rank.",
)
def sim_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("label") == 3).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return (
        similarity.topk_cosine(queries, corpus, k=5)
        .select("q_id", "c_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("q_id", "c_id")
    )


@register(
    "embed_isotropy_score",
    doc="embedding isotropy one-pager: participation ratio "
    "(sum var)^2 / sum var^2 of the per-dimension variances (in "
    "[1, d]; d means perfectly isotropic), its /d normalization, and "
    "the top-dimension variance share -- the collapse diagnostic "
    "(anisotropic spaces hurt cosine retrieval) on top of the "
    "dim-variance profile's same posexplode rollup.",
    oracle="""
WITH dv AS (
  SELECT unnest(range(0, 64)) AS dim, unnest(embedding)::DOUBLE AS val
  FROM embeddings
),
s AS (SELECT dim, var_pop(val) AS v FROM dv GROUP BY dim)
SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
       ROUND(SUM(v) * SUM(v) / SUM(v * v), 4) AS participation_ratio,
       ROUND(SUM(v) * SUM(v) / SUM(v * v) / COUNT(*), 6) AS isotropy,
       ROUND(MAX(v) / SUM(v), 6) AS top_dim_share
FROM s
""",
)
def embed_isotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    dv = emb.select(F.posexplode("embedding").alias("dim", "val")).select(
        "dim", F.col("val").cast("double").alias("val")
    )
    s = dv.groupBy("dim").agg(F.var_pop("val").alias("v"))
    pr = F.sum("v") * F.sum("v") / F.sum(F.col("v") * F.col("v"))
    return s.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.round(pr, 4).alias("participation_ratio"),
        F.round(pr / F.count(F.lit(1)), 6).alias("isotropy"),
        F.round(F.max("v") / F.sum("v"), 6).alias("top_dim_share"),
    )


_LSH_CONFIGS = ((64, 2), (32, 4), (16, 8), (8, 16))


@register(
    "dedup_lsh_parameter_advisor",
    doc="MinHash-LSH (bands, rows) parameter advisor: for each 128-hash "
    "split, the S-curve P(s) = 1 - (1 - s^r)^b is integrated over the "
    "MEASURED pairwise-Jaccard mass of the corpus sample (docs < 300, "
    "exact token-set Jaccard via the shared-term join -- zero-overlap "
    "pairs contribute zero and never materialize), reporting the "
    "50%-catch threshold (1/b)^(1/r) and the expected candidate-pair "
    "volume per config -- the recall-vs-cost dial read BEFORE "
    "committing a banding to dedup_minhash_lsh. One token-keyed pair "
    "join feeds all four configs.",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, list_distinct(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')) AS toks
  FROM documents WHERE doc_id < 300
),
t AS (SELECT doc_id, unnest(toks) AS term, len(toks) AS sz FROM docs),
pairs AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib,
         COUNT(*)::DOUBLE AS inter, MAX(a.sz) AS sa, MAX(b.sz) AS sb
  FROM t a JOIN t b ON b.term = a.term AND b.doc_id > a.doc_id
  GROUP BY ia, ib
),
sims AS (
  SELECT inter / (sa + sb - inter) AS s FROM pairs
),
cfg AS (
  SELECT unnest({[c[0] for c in _LSH_CONFIGS]}) AS b,
         unnest({[c[1] for c in _LSH_CONFIGS]}) AS r
)
SELECT cfg.b AS bands, cfg.r AS rows_per_band,
       ROUND(pow(1.0 / cfg.b, 1.0 / cfg.r), 4) AS s50_threshold,
       CAST((SELECT COUNT(*) FROM sims) AS BIGINT) AS overlapping_pairs,
       ROUND((SELECT SUM(1.0 - pow(1.0 - pow(s, cfg.r), cfg.b)) FROM sims), 2) AS expected_candidates
FROM cfg ORDER BY bands DESC
""",
)
def dedup_lsh_parameter_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_tables(spark, sf_dir, ("documents",))["documents"]
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.array_distinct(textstats.tokens(F.lower(F.col("text")))).alias("toks"),
        )
    )
    t = docs.select(
        "doc_id", F.explode("toks").alias("term"), F.size("toks").alias("sz")
    )
    a = t.select(
        F.col("doc_id").alias("ia"), "term", F.col("sz").alias("sa")
    )
    b = t.select(
        F.col("doc_id").alias("ib"), F.col("term").alias("termb"), F.col("sz").alias("sb")
    )
    pairs = (
        a.join(b, (F.col("term") == F.col("termb")) & (F.col("ib") > F.col("ia")))
        .groupBy("ia", "ib")
        .agg(
            F.count(F.lit(1)).cast("double").alias("inter"),
            F.max("sa").alias("sa"),
            F.max("sb").alias("sb"),
        )
    )
    sims = pairs.select(
        (F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))).alias("s")
    )
    cfg = spark.createDataFrame(list(_LSH_CONFIGS), "b int, r int")
    joined = sims.crossJoin(F.broadcast(cfg))
    agg = joined.groupBy("b", "r").agg(
        F.count(F.lit(1)).alias("overlapping_pairs"),
        F.round(
            F.sum(1.0 - F.pow(1.0 - F.pow(F.col("s"), F.col("r")), F.col("b"))), 2
        ).alias("expected_candidates"),
    )
    return agg.select(
        F.col("b").alias("bands"),
        F.col("r").alias("rows_per_band"),
        F.round(F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 4).alias("s50_threshold"),
        F.col("overlapping_pairs").cast("long").alias("overlapping_pairs"),
        "expected_candidates",
    ).orderBy(F.desc("bands"))


@register(
    "eval_rocchio_classifier",
    doc="Rocchio nearest-centroid classification readout: per-label "
    "centroids from the posexplode elementwise-mean rollup (snapped "
    "to the 2^-20 grid -- the IVF playbook), every vector assigned to "
    "its nearest centroid (squared distance per (vec, label) snapped "
    "to 8 places before the argmin so summation order can never flip "
    "a tie; min_by on (dist, label)), per-label precision-style "
    "accuracy out. The no-training-loop classifier baseline an "
    "embedding QA suite runs; centroid build + assignment are two "
    "(dim/label)-keyed shuffles, vectors never move whole.",
    oracle="""
WITH dv AS (
  SELECT vec_id, label, unnest(range(0, 64)) AS dim,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
),
cent AS (
  SELECT label AS clabel, dim, floor(AVG(x) * 1048576 + 0.5) / 1048576 AS c
  FROM dv GROUP BY clabel, dim
),
dist AS (
  SELECT dv.vec_id, dv.label, cent.clabel,
         ROUND(SUM((dv.x - cent.c) * (dv.x - cent.c)), 8) AS d2
  FROM dv JOIN cent ON cent.dim = dv.dim
  GROUP BY dv.vec_id, dv.label, cent.clabel
),
assign AS (
  SELECT vec_id, label,
         min_by(clabel, d2 + clabel * 1e-10) AS pred
  FROM dist GROUP BY vec_id, label
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS accuracy
FROM assign GROUP BY label ORDER BY label
""",
)
def eval_rocchio_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    g = float(1 << 20)
    dv = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).select("vec_id", "label", "dim", F.col("x").cast("double").alias("x"))
    cent = dv.groupBy(F.col("label").alias("clabel"), "dim").agg(
        (F.floor(F.avg("x") * g + 0.5) / g).alias("c")
    )
    dist = (
        dv.join(cent, "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))), 8
            ).alias("d2")
        )
    )
    assign = dist.groupBy("vec_id", "label").agg(
        # composite scalar key: d2 is snapped to 1e-8 granularity, the
        # clabel*1e-10 term only breaks exact-d2 ties (label asc)
        F.min_by("clabel", F.col("d2") + F.col("clabel") * 1e-10).alias("pred")
    )
    return (
        assign.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum((F.col("pred") == F.col("label")).cast("int")).alias("n_correct"),
            F.round(
                F.sum((F.col("pred") == F.col("label")).cast("int")) * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


@register(
    "corpus_uncertainty_sample",
    doc="active-learning uncertainty sampling: the 25 documents whose "
    "quality score sits closest to the 0.5 decision boundary "
    "(|score - 0.5| ascending, doc_id tie-break) -- the "
    "label-these-next queue that maximizes model information per "
    "annotation. Scores snapped to the 2^-20 grid (the AUC pairing); "
    "selection is a k-bounded TakeOrdered, no global sort "
    "materializes.",
    oracle=f"""
WITH sc AS (
  SELECT doc_id,
         floor((1.0 / (1.0 + exp(-({_quality_z_sql()})))) * 1048576 + 0.5) / 1048576 AS s
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
)
SELECT doc_id, ROUND(s, 6) AS score,
       ROUND(abs(s - 0.5), 6) AS uncertainty_gap
FROM sc
ORDER BY abs(s - 0.5), doc_id
LIMIT 25
""",
)
def corpus_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    g = F.lit(float(1 << 20))
    s = F.floor(filtering.linear_quality_score(F.col("text")) * g + F.lit(0.5)) / g
    sc = docs.select("doc_id", s.alias("s"))
    return (
        sc.orderBy(F.abs(F.col("s") - 0.5), F.asc("doc_id"))
        .limit(25)
        .select(
            "doc_id",
            F.round("s", 6).alias("score"),
            F.round(F.abs(F.col("s") - 0.5), 6).alias("uncertainty_gap"),
        )
        .orderBy(F.col("uncertainty_gap"), F.asc("doc_id"))
    )


def _mmr_oracle(k_cand: int = 20, k_out: int = 5, lam: float = 0.7, dim: int = 64) -> str:
    full = f"{_duck_dot('qv.vec', 'cv.vec', dim)} / ({_duck_norm('qv.vec')} * {_duck_norm('cv.vec')})"
    cc = f"{_duck_dot('av.vec', 'bv.vec', dim)} / ({_duck_norm('av.vec')} * {_duck_norm('bv.vec')})"
    head = f"""
WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
cand AS MATERIALIZED (
  SELECT q_id, c_id, rel FROM (
    SELECT qv.vec_id AS q_id, cv.vec_id AS c_id,
           ROUND({full}, 6) AS rel,
           ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY {full} DESC, cv.vec_id) AS rn
    FROM v qv JOIN v cv ON cv.vec_id <> qv.vec_id
    WHERE qv.vec_id < 10
  ) WHERE rn <= {k_cand}
),
sim AS MATERIALIZED (
  SELECT a.q_id, a.c_id AS ca, b.c_id AS cb,
         ROUND({cc}, 6) AS s
  FROM cand a JOIN cand b ON b.q_id = a.q_id AND b.c_id <> a.c_id
  JOIN v av ON av.vec_id = a.c_id
  JOIN v bv ON bv.vec_id = b.c_id
),
sel1 AS MATERIALIZED (
  SELECT q_id, c_id, rel AS mmr FROM (
    SELECT q_id, c_id, rel,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) AS rn
    FROM cand
  ) WHERE rn = 1
)"""
    blocks = [head]
    prev_union = "SELECT q_id, c_id FROM sel1"
    for r in range(2, k_out + 1):
        blocks.append(
            f""",
pool{r} AS MATERIALIZED (
  SELECT c.q_id, c.c_id, c.rel,
         MAX(s.s) AS max_sim
  FROM cand c
  JOIN sim s ON s.q_id = c.q_id AND s.ca = c.c_id
       AND s.cb IN (SELECT c_id FROM ({prev_union}) u WHERE u.q_id = c.q_id)
  WHERE c.c_id NOT IN (SELECT c_id FROM ({prev_union}) u2 WHERE u2.q_id = c.q_id)
  GROUP BY c.q_id, c.c_id, c.rel
),
sel{r} AS MATERIALIZED (
  SELECT q_id, c_id, mmr FROM (
    SELECT q_id, c_id,
           {lam} * rel - {1 - lam:.1f} * max_sim AS mmr,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY {lam} * rel - {1 - lam:.1f} * max_sim DESC, c_id) AS rn
    FROM pool{r}
  ) WHERE rn = 1
)"""
        )
        prev_union += f" UNION ALL SELECT q_id, c_id FROM sel{r}"
    unions = "\n  UNION ALL ".join(
        f"SELECT q_id, {r} AS rank, c_id, mmr FROM sel{r}" for r in range(1, k_out + 1)
    )
    blocks.append(
        f"""
SELECT q_id, rank, c_id, ROUND(mmr, 6) AS mmr_score FROM (
  {unions}
) ORDER BY q_id, rank"""
    )
    return "".join(blocks)


@register(
    "sim_mmr_rerank",
    oracle=_mmr_oracle(),
    doc="Maximal Marginal Relevance diversified reranking: the exact "
    "top-20 candidates per query (10 queries) are greedily reranked "
    "to 5 results with mmr = 0.7 rel - 0.3 max-sim-to-selected -- "
    "the redundancy-killing rerank every RAG retrieval stack runs "
    "after cosine top-k. Relevance and candidate-pair similarities "
    "snap to 6 places BEFORE the greedy walk (argmax ties -> c_id), "
    "so the sequential selection -- applyInPandas per query over the "
    "20x20 bounded pair frame, parallel across queries -- replays "
    "bit-identically as chained MATERIALIZED CTEs.",
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    k_cand, k_out, lam = 20, 5, 0.7
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    cand = similarity.topk_cosine(queries_df, corpus, k=k_cand).select(
        "q_id", "c_id", F.round("cosine", 6).alias("rel")
    )
    a = cand.select("q_id", F.col("c_id").alias("ca"))
    b = cand.select(F.col("q_id").alias("q2"), F.col("c_id").alias("cb"))
    va = corpus.select(F.col("c_id").alias("ca"), F.col("c_vec").alias("va"))
    vb = corpus.select(F.col("c_id").alias("cb"), F.col("c_vec").alias("vb"))
    pairs = (
        a.join(b, (F.col("q_id") == F.col("q2")) & (F.col("ca") != F.col("cb")))
        .join(va, "ca")
        .join(vb, "cb")
        .select(
            "q_id",
            "ca",
            "cb",
            F.round(
                similarity.cosine(
                    F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
                ),
                6,
            ).alias("s"),
        )
    )
    joined = cand.join(
        pairs.select("q_id", F.col("ca").alias("c_id"), "cb", "s"),
        ["q_id", "c_id"],
        "left",
    )
    out_schema = "q_id long, rank int, c_id long, mmr_score double"

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        qid = int(pdf["q_id"].iloc[0])
        rel = {}
        sim = {}
        for row in pdf.itertuples(index=False):
            rel[int(row.c_id)] = float(row.rel)
            if row.cb == row.cb and row.cb is not None:  # not NaN
                try:
                    sim[(int(row.c_id), int(row.cb))] = float(row.s)
                except (TypeError, ValueError):
                    pass
        selected = []
        rows = []
        remaining = dict(rel)
        # first pick: pure relevance, tie -> smallest c_id
        first = max(remaining.items(), key=lambda kv: (kv[1], -kv[0]))
        selected.append(first[0])
        rows.append((qid, 1, first[0], first[1]))
        del remaining[first[0]]
        for r in range(2, 6):
            best = None
            for c, rv in sorted(remaining.items()):
                ms = max(sim.get((c, s_), 0.0) for s_ in selected)
                score = 0.7 * rv - 0.3 * ms
                if best is None or score > best[1]:
                    best = (c, score)
            selected.append(best[0])
            rows.append((qid, r, best[0], best[1]))
            del remaining[best[0]]
        return pd.DataFrame(rows, columns=["q_id", "rank", "c_id", "mmr_score"])

    return (
        joined.groupBy("q_id")
        .applyInPandas(fold, out_schema)
        .select("q_id", "rank", "c_id", F.round("mmr_score", 6).alias("mmr_score"))
        .orderBy("q_id", "rank")
    )


@register(
    "eval_knn_classifier",
    doc="k-NN (k=5) label-vote classification readout over the "
    "embedding table: each vector's 5 exact cosine neighbors "
    "(excluding itself) vote; majority label wins, ties break to the "
    "smallest label (deterministic count-desc/label-asc argmax via "
    "min_by on a composite scalar key). Accuracy per label beside "
    "the Rocchio centroid baseline -- the local-vs-prototype gap is "
    "the cluster-shape diagnostic. Same k-bounded top-k plan as the "
    "retrieval family.",
    oracle=f"""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
nn AS (
  SELECT q_id, c_label FROM (
    SELECT qv.vec_id AS q_id, cv.label AS c_label,
           ROW_NUMBER() OVER (PARTITION BY qv.vec_id
             ORDER BY reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), __i -> qv.vec[__i] * cv.vec[__i])), (__a, __x) -> __a + __x) / (sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform(qv.vec, __e -> __e * __e)), (__a, __x) -> __a + __x)) * sqrt(reduce(list_prepend(0.0::DOUBLE, list_transform(cv.vec, __e -> __e * __e)), (__a, __x) -> __a + __x))) DESC, cv.vec_id) AS rn
    FROM v qv JOIN v cv ON cv.vec_id <> qv.vec_id
  ) WHERE rn <= 5
),
votes AS (
  SELECT q_id, c_label, COUNT(*)::BIGINT AS c FROM nn GROUP BY q_id, c_label
),
pred AS (
  SELECT q_id, min_by(c_label, -c + c_label * 1e-3) AS pred
  FROM votes GROUP BY q_id
)
SELECT v.label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN pred.pred = v.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN pred.pred = v.label THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS accuracy
FROM v JOIN pred ON pred.q_id = v.vec_id
GROUP BY v.label ORDER BY v.label
""",
)
def eval_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries_df = emb.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("c_label"),
    )
    nn = similarity.topk_cosine(
        queries_df, corpus.select("c_id", "c_vec"), k=5
    ).select("q_id", "c_id")
    votes = (
        nn.join(corpus.select("c_id", "c_label"), "c_id")
        .groupBy("q_id", "c_label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # count-desc then label-asc argmax as one scalar key: counts are
    # integers <= 5, the label*1e-3 term only breaks count ties
    pred = votes.groupBy("q_id").agg(
        F.min_by("c_label", -F.col("c") + F.col("c_label") * 1e-3).alias("pred")
    )
    truth = emb.select(F.col("vec_id").alias("q_id"), "label")
    return (
        truth.join(pred, "q_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum((F.col("pred") == F.col("label")).cast("int")).alias("n_correct"),
            F.round(
                F.sum((F.col("pred") == F.col("label")).cast("int")) * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


@register(
    "text_self_similarity_diversity",
    doc="corpus self-similarity / diversity one-pager (the Self-BLEU "
    "idea restated with exact token-set Jaccard): over the doc_id < "
    "200 sample, mean pairwise Jaccard among OVERLAPPING pairs, the "
    "share of all pairs overlapping at all, and the share above 0.5 "
    "(near-template mass) -- low diversity warns of mode collapse in "
    "generated corpora before any model sees them. Shared-term pair "
    "join (zero-overlap pairs never materialize; closed-form total "
    "pair count supplies the denominator).",
    oracle="""
WITH docs AS (
  SELECT doc_id, list_distinct(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')) AS toks
  FROM documents WHERE doc_id < 200
),
n AS (SELECT count(*)::DOUBLE AS n FROM docs),
t AS (SELECT doc_id, unnest(toks) AS term, len(toks) AS sz FROM docs),
pairs AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib,
         COUNT(*)::DOUBLE AS inter, MAX(a.sz) AS sa, MAX(b.sz) AS sb
  FROM t a JOIN t b ON b.term = a.term AND b.doc_id > a.doc_id
  GROUP BY ia, ib
),
sims AS (SELECT inter / (sa + sb - inter) AS s FROM pairs)
SELECT CAST(n.n AS BIGINT) AS n_docs,
       CAST(n.n * (n.n - 1) / 2 AS BIGINT) AS n_pairs,
       CAST((SELECT COUNT(*) FROM sims) AS BIGINT) AS overlapping_pairs,
       ROUND((SELECT AVG(s) FROM sims), 6) AS mean_jaccard_overlapping,
       ROUND((SELECT COUNT(*) FROM sims) / (n.n * (n.n - 1) / 2), 4) AS overlap_share,
       ROUND((SELECT SUM(CASE WHEN s > 0.5 THEN 1 ELSE 0 END) FROM sims)
             / (n.n * (n.n - 1) / 2), 6) AS near_template_share
FROM n
""",
)
def text_self_similarity_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_tables(spark, sf_dir, ("documents",))["documents"]
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.array_distinct(textstats.tokens(F.lower(F.col("text")))).alias("toks"),
        )
    )
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    t = docs.select(
        "doc_id", F.explode("toks").alias("term"), F.size("toks").alias("sz")
    )
    a = t.select(F.col("doc_id").alias("ia"), "term", F.col("sz").alias("sa"))
    b = t.select(
        F.col("doc_id").alias("ib"), F.col("term").alias("termb"), F.col("sz").alias("sb")
    )
    sims = (
        a.join(b, (F.col("term") == F.col("termb")) & (F.col("ib") > F.col("ia")))
        .groupBy("ia", "ib")
        .agg(
            F.count(F.lit(1)).cast("double").alias("inter"),
            F.max("sa").alias("sa"),
            F.max("sb").alias("sb"),
        )
        .select(
            (F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))).alias("s")
        )
    )
    stats = sims.agg(
        F.count(F.lit(1)).cast("double").alias("op"),
        F.avg("s").alias("mj"),
        F.sum((F.col("s") > 0.5).cast("int")).cast("double").alias("nt"),
    )
    tot = F.col("n") * (F.col("n") - 1) / 2
    return (
        n.crossJoin(F.broadcast(stats))
        .select(
            F.col("n").cast("long").alias("n_docs"),
            tot.cast("long").alias("n_pairs"),
            F.col("op").cast("long").alias("overlapping_pairs"),
            F.round("mj", 6).alias("mean_jaccard_overlapping"),
            F.round(F.col("op") / tot, 4).alias("overlap_share"),
            F.round(F.col("nt") / tot, 6).alias("near_template_share"),
        )
    )


@register(
    "dedup_containment_postings",
    doc="ASYMMETRIC near-dup tier: shingle containment C(A,B) = "
    "|S(A) n S(B)| / |S(A)| -- catches a short doc quoted or pasted "
    "inside a longer one -- the df <= 64-capped tier beside the exact "
    "prefix-filter dedup_containment tier (C >= 0.8, no cap): "
    "distinct (doc, shingle) postings equi-join on the shingle -- "
    "candidate volume proportional to true co-occurrence, never "
    "all-pairs; shingles with document frequency > 64 are dropped "
    "first (boilerplate valve, same contract as the Hamming tier's "
    "max_block: bounded per-shingle fan-out at the cost of recall on "
    "pure-boilerplate overlap, and sizes are computed on the SAME "
    "capped shingle space so the ratio stays internally consistent). "
    "Both directions of every pair are reported since C(A,B) != C(B,A).",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS w
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT doc_id,
         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)])) AS shingle
  FROM t
),
kept AS (SELECT shingle FROM s GROUP BY shingle HAVING count(*) <= 64),
p AS (SELECT s.doc_id, s.shingle FROM s JOIN kept USING (shingle)),
sz AS (SELECT doc_id, count(*) AS n_sh FROM p GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, sz.n_sh AS n_sh_a, n_common,
       ROUND(n_common::DOUBLE / sz.n_sh, 4) AS containment
FROM inter JOIN sz ON sz.doc_id = id_a
WHERE n_common::DOUBLE / sz.n_sh >= 0.6
ORDER BY id_a, id_b
""",
)
def dedup_containment_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.util import spread

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull()
    )
    posting = spread(
        docs.select(
            "doc_id", F.explode(neardup.word_shingles(F.col("text"))).alias("shingle")
        )
    )
    # r13: the df cap as a WINDOW COUNT on the shingle exchange (the
    # r12 _cap_blocks/jaccard-df pattern) -- the groupBy rollup +
    # join-back shuffled the posting table twice to attach a per-key
    # count one partitionBy exchange can carry; identical kept set
    # (count per shingle == the rollup's count).
    p = (
        posting.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .filter(F.col("_df") <= 64)
        .drop("_df")
    )
    sz = p.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = p.select(F.col("doc_id").alias("id_a"), "shingle")
    b = p.select(F.col("doc_id").alias("id_b"), F.col("shingle").alias("shingle_b"))
    inter = (
        a.join(b, (F.col("shingle") == F.col("shingle_b")) & (F.col("id_a") != F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = inter.join(sz.withColumnRenamed("doc_id", "id_a"), "id_a").select(
        "id_a",
        "id_b",
        F.col("n_sh").alias("n_sh_a"),
        "n_common",
        (F.col("n_common").cast("double") / F.col("n_sh")).alias("_c"),
    )
    return (
        out.filter(F.col("_c") >= 0.6)
        .select("id_a", "id_b", "n_sh_a", "n_common", F.round("_c", 4).alias("containment"))
        .orderBy("id_a", "id_b")
    )


@register(
    "corpus_dedup_cascade",
    doc="the END-TO-END tiered dedup pipeline as one readout: exact "
    "(normalized text) -> prefix fingerprint (first 8 tokens) -> "
    "bag-of-words (sorted distinct tokens), each tier keeping the "
    "min-doc_id survivor and feeding ONLY survivors to the next -- "
    "the cheapest-filter-first cascade every production corpus build "
    "runs, with per-tier removal accounting (dedup_tier_report is the "
    "sibling DIAGNOSTIC: tiers evaluated independently with "
    "incremental-flag sets; this is the sequential PIPELINE those "
    "numbers justify). Each tier is one "
    "groupBy(8-byte fingerprint).agg(min, min_by) -- map-side "
    "combinable, survivor set identical to grouping by the raw key "
    "(hash injective at corpus size, same contract as dedup_exact). "
    "Counts assemble via single-row crossJoins; no driver loop, no "
    "tier materialization. Composing the NEAR-dup tiers behind this "
    "cascade at deployment scale: every candidate valve turns on from "
    "one name -- operators/neardup.py::CORPUS_SCALE_PROFILE (max_block "
    "/ chain_oversized / max_df per tier, SCALE.md-measured).",
    oracle="""
WITH d0 AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
t1 AS (
  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
  FROM d0 GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
),
t2 AS (
  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
  FROM t1 GROUP BY array_to_string(
    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')[1:8], ' ')
),
t3 AS (
  SELECT min(doc_id) AS doc_id
  FROM t2 GROUP BY array_to_string(
    list_sort(list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                        t -> t != ''))), ' ')
),
n AS (
  SELECT (SELECT count(*) FROM d0) AS n0, (SELECT count(*) FROM t1) AS n1,
         (SELECT count(*) FROM t2) AS n2, (SELECT count(*) FROM t3) AS n3
)
SELECT tier, docs_in, docs_out, docs_in - docs_out AS removed,
       ROUND((docs_in - docs_out) * 1.0 / docs_in, 4) AS removed_frac
FROM (
  SELECT '1_exact' AS tier, n0 AS docs_in, n1 AS docs_out FROM n
  UNION ALL SELECT '2_prefix', n1, n2 FROM n
  UNION ALL SELECT '3_bag', n2, n3 FROM n
)
ORDER BY tier
""",
)
def corpus_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull()
    )
    d0 = docs.select("doc_id", "text")

    def keep_min(df: DataFrame, key) -> DataFrame:
        return df.groupBy(F.xxhash64(key).alias("_fp")).agg(
            F.min("doc_id").alias("doc_id"), F.min_by("text", "doc_id").alias("text")
        ).drop("_fp")

    toks = textstats.tokens(F.lower(F.col("text")))
    t1 = keep_min(d0, textstats.normalized_text(F.col("text")))
    t2 = keep_min(t1, F.array_join(F.slice(toks, 1, 8), " "))
    t3 = keep_min(t2, F.array_join(F.array_sort(F.array_distinct(toks)), " "))

    c0 = d0.agg(F.count(F.lit(1)).alias("n0"))
    c1 = t1.agg(F.count(F.lit(1)).alias("n1"))
    c2 = t2.agg(F.count(F.lit(1)).alias("n2"))
    c3 = t3.agg(F.count(F.lit(1)).alias("n3"))
    wide = c0.crossJoin(c1).crossJoin(c2).crossJoin(c3)
    out = wide.selectExpr(
        "stack(3, '1_exact', n0, n1, '2_prefix', n1, n2, '3_bag', n2, n3)"
        " AS (tier, docs_in, docs_out)"
    )
    return (
        out.withColumn("removed", F.col("docs_in") - F.col("docs_out"))
        .withColumn("removed_frac", F.round(F.col("removed") * 1.0 / F.col("docs_in"), 4))
        .select("tier", "docs_in", "docs_out", "removed", "removed_frac")
        .orderBy("tier")
    )


@register(
    "text_unicode_nfc_audit",
    doc="Unicode normalization audit: how much of the corpus is NOT in "
    "NFC (decomposed sequences make byte-identical-looking strings "
    "hash differently -- a silent dedup/fingerprint killer for "
    "multilingual corpora). JVM Spark has NO normalization builtin, "
    "so this is the honest UDF case: an @arrow_udf (Spark 4 Arrow-"
    "native UDF surface, one Arrow batch per call) applying "
    "unicodedata.normalize per string -- per-string Python is "
    "inherent to the operation, same contract as the Jaro-Winkler "
    "pandas_udf (NOTE: pyarrow 16.1's own utf8_normalize is broken -- "
    "it decomposes under every form -- verified and avoided). The "
    "corpus is salted deterministically: doc_id%3==0 gets a "
    "decomposed suffix, ==1 the precomposed twin, ==2 none, so both "
    "audit paths run on every engine. Oracle uses DuckDB's native "
    "nfc_normalize.",
    oracle="""
WITH t AS (
  SELECT source,
         text || CASE CAST(doc_id % 3 AS INTEGER)
                   WHEN 0 THEN ' caf' || chr(101) || chr(769)
                   WHEN 1 THEN ' caf' || chr(233)
                   ELSE '' END AS t2
  FROM documents WHERE text IS NOT NULL
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(CASE WHEN t2 != nfc_normalize(t2) THEN 1 ELSE 0 END) AS BIGINT) AS n_denormalized,
       CAST(SUM(length(t2) - length(nfc_normalize(t2))) AS BIGINT) AS codepoints_saved
FROM t GROUP BY source ORDER BY source
""",
)
def text_unicode_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def _nfc_impl(s):
        import unicodedata

        return pa.array(
            [None if v is None else unicodedata.normalize("NFC", v) for v in s.to_pylist()],
            type=pa.string(),
        )

    # real annotation OBJECTS: this module uses PEP-563 string annotations
    # (from __future__ import annotations), which arrow_udf's signature
    # inspection cannot resolve -- assign the classes directly instead
    _nfc_impl.__annotations__ = {"s": pa.Array, "return": pa.Array}
    nfc = arrow_udf(_nfc_impl, "string")

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull()
    )
    suffix = (
        # explicit escapes: a source-file normalization by any tool would
        # silently merge the two cases if the raw characters were inline
        F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit(" caf" + "e\u0301"))
        .when(F.pmod("doc_id", F.lit(3)) == 1, F.lit(" caf" + "\u00e9"))
        .otherwise(F.lit(""))
    )
    t = docs.select("source", F.concat(F.col("text"), suffix).alias("t2"))
    n = t.withColumn("nfc", nfc("t2"))
    return (
        n.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("t2") != F.col("nfc")).cast("long")).alias("n_denormalized"),
            F.sum(F.length("t2") - F.length("nfc")).alias("codepoints_saved"),
        )
        .orderBy("source")
    )


@register(
    "text_burrows_delta",
    doc="Burrows' Delta stylometric distance between sources: take the "
    "corpus's top-20 most frequent words (ties broken "
    "alphabetically), compute each source's RELATIVE frequency per "
    "word, z-score each word across sources (population sd; sd=0 "
    "guard), and Delta(a,b) = mean |z_a - z_b| over the word panel -- "
    "the standard authorship-attribution distance, here answering "
    "'which sources write alike' (register/style drift across feeds). "
    "Shapes: one token explode + two bounded rollups; the z-panel is "
    "(20 words x sources) and the pairwise frame sources^2 -- both "
    "constants. Frequencies are exact integer ratios; z and Delta "
    "are rounded identically on both engines.",
    oracle="""
WITH tok AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            t -> t != '')) AS w
  FROM documents WHERE text IS NOT NULL
),
top AS (
  SELECT w FROM tok GROUP BY w ORDER BY count(*) DESC, w LIMIT 20
),
src_tot AS (SELECT source, count(*) AS nt FROM tok GROUP BY source),
f AS (
  SELECT t.source, t.w, count(*) AS c
  FROM tok t JOIN top ON top.w = t.w
  GROUP BY t.source, t.w
),
grid AS (
  SELECT s.source, top.w,
         COALESCE(f.c, 0) * 1.0 / s.nt AS rf
  FROM src_tot s CROSS JOIN top
  LEFT JOIN f ON f.source = s.source AND f.w = top.w
),
stats AS (
  SELECT w, AVG(rf) AS mu, stddev_pop(rf) AS sd FROM grid GROUP BY w
),
z AS (
  SELECT g.source, g.w,
         CASE WHEN s.sd = 0 THEN 0.0
              ELSE ROUND((g.rf - s.mu) / s.sd, 6) END AS z
  FROM grid g JOIN stats s ON s.w = g.w
)
SELECT a.source AS source_a, b.source AS source_b,
       ROUND(AVG(ABS(a.z - b.z)), 4) AS delta
FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b
""",
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull()
    )
    tok = docs.select(
        "source", F.explode(textstats.tokens(F.lower(F.col("text")))).alias("w")
    )
    top = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(20)
        .select("w")
    )
    src_tot = tok.groupBy("source").agg(F.count(F.lit(1)).alias("nt"))
    f = tok.join(F.broadcast(top), "w").groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        src_tot.crossJoin(F.broadcast(top))
        .join(f, ["source", "w"], "left")
        .select(
            "source", "w", (F.coalesce("c", F.lit(0)) * 1.0 / F.col("nt")).alias("rf")
        )
    )
    stats = grid.groupBy("w").agg(
        F.avg("rf").alias("mu"), F.stddev_pop("rf").alias("sd")
    )
    z = grid.join(stats, "w").select(
        "source",
        "w",
        F.when(F.col("sd") == 0, F.lit(0.0))
        .otherwise(F.round((F.col("rf") - F.col("mu")) / F.col("sd"), 6))
        .alias("z"),
    )
    a = z.select(F.col("source").alias("source_a"), "w", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("source_b"), F.col("w").alias("wb"), F.col("z").alias("zb"))
    return (
        a.join(b, (F.col("w") == F.col("wb")) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 4).alias("delta"))
        .orderBy("source_a", "source_b")
    )


@register(
    "eval_fleiss_kappa",
    doc="Fleiss' kappa across THREE deterministic raters per document "
    "(the multi-rater generalization of eval_cohens_kappa): rater A "
    "is the stored lang label, rater B the shared langid heuristic "
    "(same spelling as _LANGID_PRED_SQL, keyed by doc_id here), "
    "rater C an en-density-only rater ('en' iff the English stopword "
    "ratio clears the same 0.03 floor, else 'und'). "
    "P_i = (SUM_j n_ij^2 - 3)/6 with exactly 3 ratings per doc, "
    "P_bar and p_j are exact integer ratios, P_e = SUM p_j^2. Only "
    "the final doubles are rounded; every count is integer so the "
    "engines agree bit-for-bit until the last few flops.",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, text IS NULL AS no_text,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '') AS lt
  FROM documents
),
s AS (
  SELECT doc_id, lang, no_text,
    len(list_filter(lt, t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], t)))::DOUBLE
      / greatest(len(lt), 1) AS r_en,
    len(list_filter(lt, t -> list_contains(['le','la','et','de','un','une','est','pour','dans','avec'], t)))::DOUBLE
      / greatest(len(lt), 1) AS r_fr,
    len(list_filter(lt, t -> list_contains(['der','die','das','und','ist','ein','eine','mit','von','zu'], t)))::DOUBLE
      / greatest(len(lt), 1) AS r_de,
    len(list_filter(lt, t -> list_contains(['el','la','y','de','un','una','es','para','en','con'], t)))::DOUBLE
      / greatest(len(lt), 1) AS r_es
  FROM tok
),
ratings AS (
  SELECT doc_id, lang AS cat FROM documents
  UNION ALL
  SELECT doc_id,
    CASE WHEN no_text THEN 'und'
         WHEN greatest(r_en, r_fr, r_de, r_es) < 0.03 THEN 'und'
         WHEN r_en = greatest(r_en, r_fr, r_de, r_es) THEN 'en'
         WHEN r_fr = greatest(r_en, r_fr, r_de, r_es) THEN 'fr'
         WHEN r_de = greatest(r_en, r_fr, r_de, r_es) THEN 'de'
         ELSE 'es' END
  FROM s
  UNION ALL
  SELECT doc_id, CASE WHEN no_text OR r_en < 0.03 THEN 'und' ELSE 'en' END FROM s
),
nij AS (SELECT doc_id, cat, count(*)::BIGINT AS c FROM ratings GROUP BY doc_id, cat),
per_doc AS (SELECT SUM(c * c) AS ss, count(*) AS _k FROM nij GROUP BY doc_id),
tot AS (SELECT count(*)::BIGINT AS n FROM documents),
pbar AS (SELECT (SUM(ss) - 3 * (SELECT n FROM tot)) * 1.0 / (6 * (SELECT n FROM tot)) AS p_bar FROM per_doc),
pj AS (SELECT cat, SUM(c) AS cj FROM nij GROUP BY cat),
pe AS (SELECT SUM((cj * 1.0 / (3 * (SELECT n FROM tot))) * (cj * 1.0 / (3 * (SELECT n FROM tot)))) AS p_e FROM pj)
SELECT tot.n AS n_docs, 3 AS n_raters,
       ROUND(pbar.p_bar, 4) AS p_observed,
       ROUND(pe.p_e, 4) AS p_expected,
       ROUND((pbar.p_bar - pe.p_e) / (1.0 - pe.p_e), 4) AS fleiss_kappa
FROM tot, pbar, pe
""",
)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    a = docs.select("doc_id", F.col("lang").alias("cat"))
    b = docs.select("doc_id", textstats.lang_id(F.col("text")).alias("cat"))
    c = docs.select(
        "doc_id",
        F.when(textstats.stopword_ratio(F.col("text"), "en") >= 0.03, F.lit("en"))
        .otherwise(F.lit("und"))
        .alias("cat"),
    )
    ratings = a.unionAll(b).unionAll(c)
    nij = ratings.groupBy("doc_id", "cat").agg(F.count(F.lit(1)).alias("c"))
    n = docs.count()  # tiny scalar; the driver-facing plan below stays lazy
    ss = nij.agg(F.sum(F.col("c") * F.col("c")).alias("ss"))
    pj = nij.groupBy("cat").agg(F.sum("c").alias("cj"))
    pe = pj.agg(
        F.sum((F.col("cj") * 1.0 / (3 * n)) * (F.col("cj") * 1.0 / (3 * n))).alias("p_e")
    )
    return (
        ss.crossJoin(F.broadcast(pe))
        .select(
            F.lit(n).cast("long").alias("n_docs"),
            F.lit(3).cast("int").alias("n_raters"),
            F.round((F.col("ss") - 3 * n) * 1.0 / (6 * n), R).alias("p_observed"),
            F.round("p_e", R).alias("p_expected"),
            F.round(
                ((F.col("ss") - 3 * n) * 1.0 / (6 * n) - F.col("p_e")) / (1.0 - F.col("p_e")),
                R,
            ).alias("fleiss_kappa"),
        )
    )


@register(
    "eval_lift_gains_table",
    doc="decile gains/lift table for a ranking model (score = n_chars, "
    "target = lang = 'en'): global rank over (score DESC, doc_id) and "
    "the running positive count both come from the hierarchical scan "
    "(operators/scan.py) -- the doc grain scales, so no NTILE / "
    "unpartitioned window. decile = (i-1)*10 div N + 1 (even-spread "
    "deciles, spelled identically in the oracle), and the per-decile "
    "cum_n / cum_pos are just MAX(rank) / MAX(running count) within "
    "the decile -- no second window at all. Every count is an exact "
    "integer and every ratio is spelled with the same operation order "
    "on both sides, so the doubles are bit-identical UNROUNDED "
    "(integer ratios like 1234/2000 terminate in decimal, where a "
    "ROUND would reintroduce the half-boundary repr hazard "
    "ts_bollinger_bands documents).",
    oracle="""
WITH s AS (
  SELECT (lang = 'en')::INT AS y,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS i,
         SUM((lang = 'en')::INT) OVER (ORDER BY n_chars DESC, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
),
t AS (SELECT count(*)::BIGINT AS n FROM documents),
d AS (
  SELECT ((i - 1) * 10) // (SELECT n FROM t) + 1 AS decile,
         count(*)::BIGINT AS n, SUM(y)::BIGINT AS pos,
         MAX(i) AS cum_n, MAX(cum) AS cum_pos
  FROM s GROUP BY 1
),
tot AS (SELECT SUM(n) AS tn, SUM(pos) AS tp FROM d)
SELECT CAST(decile AS BIGINT) AS decile, n, pos,
       CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
       cum_pos / tot.tp AS cum_gain,
       (cum_pos / cum_n) / (tot.tp / tot.tn) AS cum_lift
FROM d, tot ORDER BY decile
""",
)
def eval_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    s = docs.select(
        "doc_id", "n_chars", (F.col("lang") == "en").cast("int").alias("y")
    )
    ranked = global_scan(
        s, [ScanSpec(("n_chars desc", "doc_id"), rank="i", val="y", cum="cum", n="n_tot")]
    )
    d = ranked.groupBy(
        F.expr("(i - 1) * 10 div n_tot + 1").cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("pos"),
        F.max("i").cast("long").alias("cum_n"),
        F.max("cum").cast("long").alias("cum_pos"),
    )
    tot = d.agg(F.sum("n").alias("tn"), F.sum("pos").alias("tp"))
    return (
        d.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "pos",
            "cum_n",
            "cum_pos",
            (F.col("cum_pos") / F.col("tp")).alias("cum_gain"),
            ((F.col("cum_pos") / F.col("cum_n")) / (F.col("tp") / F.col("tn"))).alias("cum_lift"),
        )
        .orderBy("decile")
    )


@register(
    "text_collocation_llr",
    doc="Dunning log-likelihood-ratio collocations: for every bigram "
    "seen >= 10 times, the 2x2 contingency (bigram count k11, "
    "first-word margin c1, second-word margin c2, bigram total N) "
    "scored by LLR = 2 SUM k_ij ln(k_ij N / (row_i col_j)) with "
    "zero cells contributing zero -- the PMI sibling that does not "
    "overweight rare pairs (events_cooccurrence_pmi is the PMI "
    "side). Counts are exact integers; the four log terms are "
    "combined in one fixed expression order so both engines agree "
    "to ulps, rounded at 4. Ordered by the integer count, never the "
    "double. Same zip_with row-local bigram construction as "
    "text_bigram_lm -- no token explode of n^2.",
    oracle="""
WITH toks AS (
  SELECT list_filter(string_split(trim(text), ' '), t -> t <> '') AS w FROM documents
),
big AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
  FROM toks WHERE len(w) >= 2
),
bc AS (
  SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2,
         count(*)::BIGINT AS k11
  FROM big GROUP BY 1, 2
),
c1 AS (SELECT w1, SUM(k11)::BIGINT AS c1 FROM bc GROUP BY w1),
c2 AS (SELECT w2, SUM(k11)::BIGINT AS c2 FROM bc GROUP BY w2),
n AS (SELECT SUM(k11)::BIGINT AS n FROM bc),
cell AS (
  SELECT bc.w1, bc.w2, k11, c1.c1, c2.c2, n.n,
         c1.c1 - k11 AS k12, c2.c2 - k11 AS k21,
         n.n - c1.c1 - c2.c2 + k11 AS k22
  FROM bc JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
  WHERE k11 >= 10
)
SELECT w1, w2, k11, c1, c2,
       ROUND(2.0 * (
         (CASE WHEN k11 > 0 THEN k11 * ln(k11 * 1.0 * n / (c1 * 1.0 * c2)) ELSE 0.0 END)
       + (CASE WHEN k12 > 0 THEN k12 * ln(k12 * 1.0 * n / (c1 * 1.0 * (n - c2))) ELSE 0.0 END)
       + (CASE WHEN k21 > 0 THEN k21 * ln(k21 * 1.0 * n / ((n - c1) * 1.0 * c2)) ELSE 0.0 END)
       + (CASE WHEN k22 > 0 THEN k22 * ln(k22 * 1.0 * n / ((n - c1) * 1.0 * (n - c2))) ELSE 0.0 END)
       ), 4) AS llr
FROM cell
ORDER BY k11 DESC, w1, w2
""",
)
def text_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = textstats.tokens(F.col("text"))
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bc = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("k11"))
    )
    c1 = bc.groupBy("w1").agg(F.sum("k11").alias("c1"))
    c2 = bc.groupBy("w2").agg(F.sum("k11").alias("c2"))
    n = bc.agg(F.sum("k11").alias("n"))
    cell = (
        bc.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .filter(F.col("k11") >= 10)
        .withColumn("k12", F.col("c1") - F.col("k11"))
        .withColumn("k21", F.col("c2") - F.col("k11"))
        .withColumn("k22", F.col("n") - F.col("c1") - F.col("c2") + F.col("k11"))
    )

    def term(k, row, col):
        return F.when(
            k > 0, k * F.log(k * 1.0 * F.col("n") / (row * 1.0 * col))
        ).otherwise(F.lit(0.0))

    n_, c1_, c2_ = F.col("n"), F.col("c1"), F.col("c2")
    llr = 2.0 * (
        term(F.col("k11"), c1_, c2_)
        + term(F.col("k12"), c1_, n_ - c2_)
        + term(F.col("k21"), n_ - c1_, c2_)
        + term(F.col("k22"), n_ - c1_, n_ - c2_)
    )
    return cell.select(
        "w1", "w2", "k11", "c1", "c2", F.round(llr, R).alias("llr")
    ).orderBy(F.col("k11").desc(), "w1", "w2")


@register(
    "text_good_turing_mass",
    doc="Good-Turing frequency-of-frequencies per source: N_r = number "
    "of terms seen exactly r times, the unseen-mass estimate "
    "p0 = N_1 / total_tokens, and the Turing-smoothed adjusted count "
    "r* = (r+1) N_{r+1} / N_r for r = 1..5 (NULL when N_{r+1} is "
    "absent -- simple GT, no fitted tail; p0 is NULL for sources "
    "with no singleton terms, hence the LEFT join on N_1). Everything is a ratio of "
    "exact integers spelled identically on both sides, emitted "
    "unrounded. Two rollups: (source, term) then (source, r).",
    oracle="""
WITH tok AS (
  SELECT source, unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT source, term, count(*)::BIGINT AS r FROM tok GROUP BY source, term),
fof AS (SELECT source, r, count(*)::BIGINT AS n_r FROM tf GROUP BY source, r),
tot AS (SELECT source, SUM(r * n_r)::BIGINT AS n_tokens FROM fof GROUP BY source)
SELECT f.source, f.r, f.n_r, nxt.n_r AS n_r_next,
       CASE WHEN nxt.n_r IS NULL THEN NULL
            ELSE (f.r + 1) * nxt.n_r * 1.0 / f.n_r END AS r_star,
       (SELECT n_r FROM fof WHERE fof.source = f.source AND fof.r = 1) * 1.0
         / tot.n_tokens AS p0_unseen
FROM fof f
LEFT JOIN fof nxt ON nxt.source = f.source AND nxt.r = f.r + 1
JOIN tot ON tot.source = f.source
WHERE f.r <= 5
ORDER BY f.source, f.r
""",
)
def text_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select("source", F.explode(textstats.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("r"))
    fof = tf.groupBy("source", "r").agg(F.count(F.lit(1)).alias("n_r"))
    tot = fof.groupBy("source").agg(F.sum(F.col("r") * F.col("n_r")).alias("n_tokens"))
    n1 = fof.filter(F.col("r") == 1).select("source", F.col("n_r").alias("n_1"))
    nxt = fof.select("source", (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next"))
    return (
        fof.filter(F.col("r") <= 5)
        .join(nxt, ["source", "r"], "left")
        .join(F.broadcast(tot), "source")
        .join(F.broadcast(n1), "source", "left")
        .select(
            "source",
            "r",
            "n_r",
            "n_r_next",
            F.when(
                F.col("n_r_next").isNotNull(),
                (F.col("r") + 1) * F.col("n_r_next") * 1.0 / F.col("n_r"),
            ).alias("r_star"),
            (F.col("n_1") * 1.0 / F.col("n_tokens")).alias("p0_unseen"),
        )
        .orderBy("source", "r")
    )


@register(
    "embed_kmeans_one_step",
    doc="one Lloyd k-means iteration over the embedding table, k = 8, "
    "deterministic init (centroids = vec_id 0..7): assign every "
    "vector to its nearest seed by squared L2 -- the per-dim fold is "
    "a sequential reduce in ARRAY ORDER on both engines (the "
    "_duck_dot discipline), so distances are bit-identical and the "
    "(d2, cid) argmin is stable -- then recompute centroids as "
    "per-dim means. Output is the (cid, dim) centroid matrix with "
    "assignment counts; only the partition-parallel mean is rounded "
    "(6 dp, ~1e-13 reassociation wobble). Scale: one broadcast of 8 "
    "seed rows, one narrow pairwise stage (n x 8), one (cid, dim) "
    "rollup -- the canonical IVF training step.",
    oracle="""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
c AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 8),
d AS (
  SELECT v.vec_id, c.cid,
         reduce(list_prepend(0.0::DOUBLE,
                list_transform(range(1, 65),
                  __i -> (v.vec[__i] - c.cvec[__i]) * (v.vec[__i] - c.cvec[__i]))),
                (__a, __x) -> __a + __x) AS d2
  FROM v CROSS JOIN c
),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
cnt AS (SELECT cid, count(*)::BIGINT AS n_assigned FROM asg GROUP BY cid),
ex AS (
  SELECT asg.cid, unnest(range(0, 64)) AS dim, unnest(v.vec) AS val
  FROM asg JOIN v USING (vec_id)
)
SELECT ex.cid, CAST(ex.dim AS INT) AS dim, cnt.n_assigned,
       ROUND(AVG(ex.val), 6) AS new_val
FROM ex JOIN cnt USING (cid)
GROUP BY ex.cid, ex.dim, cnt.n_assigned
ORDER BY ex.cid, dim
""",
)
def embed_kmeans_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    c = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    # the 8 centroids ride as ONE broadcast array row, so assignment is
    # row-local: d2 per centroid via the sequential zip_with fold, argmin
    # via array_sort on (d2, cid) structs -- no per-vector pair shuffle
    # (the first cut windowed over an n x 8 exchange that dragged the
    # 64-double vectors at 174 B/rec; this plan's only exchange is the
    # narrow (cid, dim, val) rollup)
    carr = c.agg(F.sort_array(F.collect_list(F.struct("cid", "cvec"))).alias("cs"))

    def d2(cvec):
        return F.aggregate(
            F.zip_with(F.col("vec"), cvec, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )

    assigned = v.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "vec",
        F.array_sort(
            F.transform(F.col("cs"), lambda s: F.struct(d2(s["cvec"]).alias("d2"), s["cid"].alias("cid")))
        )[0]["cid"].alias("cid"),
    )
    cnt = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_assigned"))
    ex = assigned.select("cid", F.posexplode("vec").alias("dim", "val"))
    return (
        ex.join(F.broadcast(cnt), "cid")
        .groupBy("cid", "dim", "n_assigned")
        .agg(F.round(F.avg("val"), 6).alias("new_val"))
        .select("cid", F.col("dim").cast("int").alias("dim"), "n_assigned", "new_val")
        .orderBy("cid", "dim")
    )


@register(
    "eval_brier_decomposition",
    doc="Murphy decomposition of the Brier score for the 2^-20-snapped "
    "logistic quality score predicting lang = 'en': over the 10 "
    "equal-width calibration bins, reliability "
    "SUM n_k (sbar_k - ybar_k)^2 / N, resolution "
    "SUM n_k (ybar_k - ybar)^2 / N, uncertainty ybar (1 - ybar), "
    "plus the raw Brier SUM (s - y)^2 / N. Per-bin score sums are "
    "exact dyadics (the calibration-op discipline) and ybar terms "
    "are integer ratios; the raw Brier and the 10-term REL/RES sums "
    "reassociate, so those three are rounded at 6. uncertainty is an "
    "identical-integer-derived double, emitted unrounded. Check: "
    "brier ~= rel - res + unc up to within-bin score variance.",
    oracle=f"""
WITH s AS (
  SELECT floor((1.0 / (1.0 + exp(-({_quality_z_sql()})))) * 1048576 + 0.5) / 1048576 AS score,
         (lang = 'en')::INT AS y
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
v AS (SELECT score, y, least(CAST(floor(score * 10) AS INT), 9) AS bin FROM s),
tot AS (
  SELECT count(*)::BIGINT AS n, SUM(y)::BIGINT AS tp,
         SUM((score - y) * (score - y)) AS sqerr
  FROM v
),
b AS (
  SELECT bin, count(*)::BIGINT AS n_k, SUM(score) AS s_sum, SUM(y)::BIGINT AS y_sum
  FROM v GROUP BY bin
),
d AS (
  SELECT SUM(n_k * (s_sum / n_k - y_sum * 1.0 / n_k) * (s_sum / n_k - y_sum * 1.0 / n_k)) AS rel_n,
         SUM(n_k * (y_sum * 1.0 / n_k - tot.tp * 1.0 / tot.n) * (y_sum * 1.0 / n_k - tot.tp * 1.0 / tot.n)) AS res_n
  FROM b, tot GROUP BY tot.n, tot.tp
)
SELECT tot.n AS n_docs,
       ROUND(tot.sqerr / tot.n, 6) AS brier,
       ROUND(d.rel_n / tot.n, 6) AS reliability,
       ROUND(d.res_n / tot.n, 6) AS resolution,
       (tot.tp * 1.0 / tot.n) * (1.0 - tot.tp * 1.0 / tot.n) AS uncertainty
FROM tot, d
""",
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    g = F.lit(float(1 << 20))
    score = F.floor(filtering.linear_quality_score(F.col("text")) * g + F.lit(0.5)) / g
    v = docs.select(
        score.alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    ).withColumn("bin", F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)))
    tot = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("tp"),
        F.sum((F.col("score") - F.col("y")) * (F.col("score") - F.col("y"))).alias("sqerr"),
    )
    b = v.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("score").alias("s_sum"),
        F.sum("y").alias("y_sum"),
    )
    sbar = F.col("s_sum") / F.col("n_k")
    ybar_k = F.col("y_sum") * 1.0 / F.col("n_k")
    ybar = F.col("tp") * 1.0 / F.col("n")
    d = (
        b.crossJoin(F.broadcast(tot))
        .groupBy("n", "tp")
        .agg(
            F.sum(F.col("n_k") * (sbar - ybar_k) * (sbar - ybar_k)).alias("rel_n"),
            F.sum(F.col("n_k") * (ybar_k - ybar) * (ybar_k - ybar)).alias("res_n"),
        )
        .drop("n", "tp")
    )
    return tot.crossJoin(F.broadcast(d)).select(
        F.col("n").cast("long").alias("n_docs"),
        F.round(F.col("sqerr") / F.col("n"), 6).alias("brier"),
        F.round(F.col("rel_n") / F.col("n"), 6).alias("reliability"),
        F.round(F.col("res_n") / F.col("n"), 6).alias("resolution"),
        (ybar * (1.0 - ybar)).alias("uncertainty"),
    )


@register(
    "dedup_phonetic_blocking",
    doc="phonetic blocking + edit-distance verify over part names -- "
    "the classic two-stage fuzzy-dedup shape (block on a cheap "
    "recall-oriented key, confirm with an O(len^2) metric INSIDE "
    "blocks only): key = first char + vowel/space-stripped remainder "
    "of lower(p_name) (RE2-safe -- no backreferences, so the same "
    "regex runs on both engines), in-block pairs part1 < part2 "
    "(operators/neardup.py::block_pairs), keep pairs with "
    "levenshtein <= 4. At "
    "100 TB the block key is the shuffle key and the quadratic "
    "verify is bounded by the largest block, which the key design "
    "controls -- the dedup_hamming_prefix rationale.",
    oracle="""
WITH k AS (
  SELECT p_partkey, p_name,
         substring(lower(trim(p_name)), 1, 1) ||
           regexp_replace(substring(lower(trim(p_name)), 2), '[aeiouy ]', '', 'g') AS pkey
  FROM part
)
SELECT a.pkey, a.p_partkey AS part1, b.p_partkey AS part2,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev
FROM k a JOIN k b ON b.pkey = a.pkey AND b.p_partkey > a.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
ORDER BY a.pkey, part1, part2
""",
)
def dedup_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_tables(spark, sf_dir, ("part",))["part"]
    norm = F.lower(F.trim(F.col("p_name")))
    k = part.select(
        "p_partkey",
        "p_name",
        F.concat(
            F.substring(norm, 1, 1),
            F.regexp_replace(F.expr("substring(lower(trim(p_name)), 2)"), "[aeiouy ]", ""),
        ).alias("pkey"),
    )
    # r13 examined, left alone: the 3.1M in-block pairs are the block
    # key's declared recall contract and the levenshtein verify is a
    # codegen'd JVM intrinsic. Both measured alternatives lost: the
    # banded 3-arg levenshtein(.., 4) was no faster (7.8 vs 7.5 s on
    # the isolated verify), and a |len(a)-len(b)| <= 4 pre-gate excludes
    # 0.0% of pairs (part names are same-length color-word tuples).
    pairs = neardup.block_pairs(k, ["pkey"], F.struct("p_partkey", "p_name", "pkey"))
    return (
        pairs.select(
            F.col("_a.pkey").alias("pkey"),
            F.col("_a.p_partkey").alias("part1"),
            F.col("_b.p_partkey").alias("part2"),
            F.levenshtein("_a.p_name", "_b.p_name").alias("lev"),
        )
        .filter(F.col("lev") <= 4)
        .select("pkey", "part1", "part2", F.col("lev").cast("int").alias("lev"))
        .orderBy("pkey", "part1", "part2")
    )


@register(
    "multimodal_scene_cuts",
    doc="shot-boundary detection plumbing with a full oracle "
    "(operators/multimodal.py::detect_scene_cuts): documents adapted "
    "as fake videos (duration_ms = n_chars * 10, payload = ASCII "
    "bytes), frames sampled every 250 ms, per-frame signature = the "
    "payload byte at offset (idx * 97) mod n_bytes, cut when the "
    "signature jumps > 32 -- integer-exact end to end, so DuckDB "
    "replays the identical cascade with range/unnest + lag while the "
    "Spark side exercises the REAL detector shape (Arrow-batched "
    "mapInPandas, per-media sequential frame scan, no shuffle before "
    "the final readout).",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id, text, n_chars, n_chars * 10 AS dur
  FROM documents WHERE n_chars > 0 AND text IS NOT NULL
),
f AS (
  SELECT media_id, n_chars, text,
         unnest(range(0, (dur - 1) // 250 + 1)) AS idx
  FROM m
),
s AS (
  SELECT media_id, idx,
         ord(substring(text, ((idx * 97) % n_chars)::INT + 1, 1)) AS sig
  FROM f
),
c AS (
  SELECT media_id, idx, sig,
         LAG(sig) OVER (PARTITION BY media_id ORDER BY idx) AS prev
  FROM s
),
agg AS (
  SELECT media_id, count(*)::BIGINT AS n_frames,
         SUM(CASE WHEN prev IS NOT NULL AND ABS(sig - prev) > 32 THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
         MIN(CASE WHEN prev IS NOT NULL AND ABS(sig - prev) > 32 THEN idx END) AS first_cut_idx
  FROM c GROUP BY media_id
)
SELECT media_id, n_frames, n_cuts, CAST(first_cut_idx AS BIGINT) AS first_cut_idx
FROM agg ORDER BY media_id LIMIT 500
""",
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        (F.col("n_chars") > 0) & F.col("text").isNotNull()
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("video/fake").alias("mime"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars").cast("long") * 10).alias("duration_ms"),
    )
    cuts = multimodal.detect_scene_cuts(media, every_ms=250, threshold=32)
    return cuts.orderBy("media_id").limit(500)


@register(
    "eval_mrr_retrieval",
    doc="mean reciprocal rank for label-match retrieval over the "
    "embedding table: queries = vec_id < 20, candidates = every other "
    "vector ranked by cosine (the sequential-fold dot/norm "
    "discipline, so ordering is engine-identical with the vec_id "
    "tie-break), relevant = same label. Reports MRR = avg(1/rank of "
    "first relevant), hit@1 and hit@5 counts. Ranks are exact "
    "integers; the 20-term MRR mean reassociates and is rounded "
    "at 6.",
    oracle=f"""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
p AS (
  SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id AS c_id, c.label AS c_label,
         {_duck_dot('q.vec', 'c.vec', 64)} / ({_duck_norm('q.vec')} * {_duck_norm('c.vec')}) AS cos
  FROM v q JOIN v c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 20
),
r AS (
  SELECT q_id, q_label, c_label,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
  FROM p
),
fr AS (
  SELECT q_id, MIN(rn)::BIGINT AS first_rank
  FROM r WHERE c_label = q_label GROUP BY q_id
)
SELECT count(*)::BIGINT AS n_queries,
       ROUND(AVG(1.0 / first_rank), 6) AS mrr,
       SUM(CASE WHEN first_rank = 1 THEN 1 ELSE 0 END)::BIGINT AS hit_at_1,
       SUM(CASE WHEN first_rank <= 5 THEN 1 ELSE 0 END)::BIGINT AS hit_at_5
FROM fr
""",
)
def eval_mrr_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from testlog_etl_spark.operators import linalg

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("vec"))
    q = v.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"), F.col("vec").alias("qv")
    )
    c = v.select(
        F.col("vec_id").alias("c_id"), F.col("label").alias("c_label"), F.col("vec").alias("cv")
    )

    def fold_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, e: acc + e
        )

    p = (
        F.broadcast(q)
        .join(c, F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            "c_id",
            "c_label",
            (
                fold_dot(F.col("qv"), F.col("cv"))
                / (
                    F.sqrt(fold_dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(fold_dot(F.col("cv"), F.col("cv")))
                )
            ).alias("cos"),
        )
    )
    r = p.withColumn(
        "rn", F.row_number().over(W.partitionBy("q_id").orderBy(F.col("cos").desc(), "c_id"))
    )
    fr = r.filter(F.col("c_label") == F.col("q_label")).groupBy("q_id").agg(
        F.min("rn").alias("first_rank")
    )
    return fr.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg(1.0 / F.col("first_rank")), 6).alias("mrr"),
        F.sum(F.when(F.col("first_rank") == 1, 1).otherwise(0)).alias("hit_at_1"),
        F.sum(F.when(F.col("first_rank") <= 5, 1).otherwise(0)).alias("hit_at_5"),
    ).select(
        "n_queries",
        "mrr",
        F.col("hit_at_1").cast("long").alias("hit_at_1"),
        F.col("hit_at_5").cast("long").alias("hit_at_5"),
    )


@register(
    "sample_systematic_interval",
    doc="systematic interval sampling: every 100th order in "
    "(o_orderdate, o_orderkey) order starting at fixed phase 17 -- "
    "the equal-probability design whose estimator variance beats SRS "
    "under ordered drift. The global rank comes from the "
    "hierarchical scan (operators/scan.py); membership is pure rank "
    "arithmetic ((i - 17) mod 100 = 0), so the sample is exactly "
    "reproducible on both engines. Emits the sampled rows plus their "
    "rank for auditability; the estimator readout (sample mean vs "
    "population mean of o_totalprice) rides the same scan totals.",
    oracle="""
WITH r AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS i
  FROM orders
)
SELECT i, o_orderkey, day
FROM r
WHERE (i - 17) % 100 = 0
ORDER BY i
""",
)
def sample_systematic_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = orders.select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("day"), "o_orderdate"
    )
    r = global_scan(base, [ScanSpec(("o_orderdate", "o_orderkey"), rank="i")])
    return (
        r.filter(F.pmod(F.col("i") - 17, F.lit(100)) == 0)
        .select("i", "o_orderkey", "day")
        .orderBy("i")
    )


@register(
    "text_mattr_window",
    doc="moving-average type-token ratio (MATTR, window 50) per "
    "source: for every 50-token window of each doc, distinct/50, "
    "averaged within the doc then across the source -- the "
    "length-invariant lexical-diversity measure (plain TTR falls "
    "with doc length; text_hapax_ratio is the spectrum view). "
    "Windows are row-local array ops (transform over slice + "
    "array_distinct) -- no explode, no shuffle until the source "
    "rollup; docs shorter than the window fall back to plain TTR. "
    "Per-window ratios are exact integer ratios; the doc and source "
    "means reassociate and are rounded at 4.",
    oracle="""
WITH t AS (
  SELECT source, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
m AS (
  SELECT source,
    CASE WHEN len(w) >= 50 THEN
      list_sum(list_transform(range(1, len(w) - 48),
               i -> len(list_distinct(w[i:i+49])) / 50.0))
        / (len(w) - 49)
    ELSE len(list_distinct(w)) * 1.0 / len(w) END AS mattr,
    len(w) AS n_tok
  FROM t WHERE len(w) > 0
)
SELECT source, count(*)::BIGINT AS n_docs,
       ROUND(AVG(mattr), 4) AS avg_mattr,
       ROUND(AVG(len_tok), 4) AS avg_tokens
FROM (SELECT source, mattr, n_tok * 1.0 AS len_tok FROM m)
GROUP BY source ORDER BY source
""",
)
def text_mattr_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    w = textstats.tokens(F.col("text"))
    n = F.size(w)
    win = F.transform(
        F.sequence(F.lit(1), n - 49),
        lambda i: F.size(F.array_distinct(F.slice(w, i, F.lit(50)))) / 50.0,
    )
    mattr = F.when(
        n >= 50,
        F.aggregate(win, F.lit(0.0), lambda acc, e: acc + e) / (n - 49),
    ).otherwise(F.size(F.array_distinct(w)) * 1.0 / n)
    m = docs.filter(n > 0).select("source", mattr.alias("mattr"), (n * 1.0).alias("len_tok"))
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("mattr"), R).alias("avg_mattr"),
            F.round(F.avg("len_tok"), R).alias("avg_tokens"),
        )
        .orderBy("source")
    )


@register(
    "text_yules_k",
    doc="Yule's K vocabulary-richness characteristic per source: "
    "K = 10^4 (SUM m^2 V_m - N) / N^2 over the frequency spectrum "
    "(V_m = number of terms occurring m times, N = token mass) -- "
    "the repeat-rate statistic that is (asymptotically) independent "
    "of sample size, computed directly from the same "
    "frequency-of-frequencies rollup text_good_turing_mass reads. "
    "Every input is an exact integer so K is an identical-integer-"
    "derived double, emitted unrounded.",
    oracle="""
WITH tok AS (
  SELECT source, unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT source, term, count(*)::BIGINT AS m FROM tok GROUP BY source, term),
fof AS (SELECT source, m, count(*)::BIGINT AS vm FROM tf GROUP BY source, m),
agg AS (
  SELECT source, SUM(m * vm)::BIGINT AS n, SUM(m * m * vm)::BIGINT AS s2,
         SUM(vm)::BIGINT AS vocab
  FROM fof GROUP BY source
)
SELECT source, n AS n_tokens, vocab,
       10000.0 * (s2 - n) / (n * 1.0 * n) AS yules_k
FROM agg ORDER BY source
""",
)
def text_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select("source", F.explode(textstats.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("m"))
    fof = tf.groupBy("source", "m").agg(F.count(F.lit(1)).alias("vm"))
    agg = fof.groupBy("source").agg(
        F.sum(F.col("m") * F.col("vm")).alias("n"),
        F.sum(F.col("m") * F.col("m") * F.col("vm")).alias("s2"),
        F.sum("vm").alias("vocab"),
    )
    return agg.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        (10000.0 * (F.col("s2") - F.col("n")) / (F.col("n") * 1.0 * F.col("n"))).alias("yules_k"),
    ).orderBy("source")


@register(
    "eval_bleu_ngram_precision",
    doc="BLEU-2 between consecutive same-source documents (candidate "
    "doc_id paired with the source's next doc_id as reference) -- "
    "the n-gram-overlap eval used to score near-dup aggressiveness: "
    "clipped unigram/bigram precision (each candidate gram credits "
    "min(count_cand, count_ref)), brevity penalty exp(1 - r/c) when "
    "c < r, BLEU-2 = BP sqrt(p1 p2). Gram clipping is row-local "
    "array arithmetic on both engines (no explode); counts are exact "
    "integers, and the one exp/sqrt chain is identical-double in, "
    "rounded at 6 out. Per-source summary row.",
    oracle="""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
pr AS (
  SELECT c.source, c.w AS cw, r.w AS rw
  FROM t c JOIN t r ON r.source = c.source AND r.rn = c.rn + 1
  WHERE len(c.w) >= 2 AND len(r.w) >= 2
),
g AS (
  SELECT source, cw, rw,
         list_transform(range(1, len(cw)), i -> cw[i] || ' ' || cw[i+1]) AS cg,
         list_transform(range(1, len(rw)), i -> rw[i] || ' ' || rw[i+1]) AS rg
  FROM pr
),
sc AS (
  SELECT source,
    len(cw) AS c_len, len(rw) AS r_len,
    list_sum(list_transform(list_distinct(cw),
      t1 -> least(len(list_filter(cw, x -> x = t1)), len(list_filter(rw, x -> x = t1))))) AS clip1,
    list_sum(list_transform(list_distinct(cg),
      t2 -> least(len(list_filter(cg, x -> x = t2)), len(list_filter(rg, x -> x = t2))))) AS clip2
  FROM g
),
b AS (
  SELECT source,
    COALESCE(clip1, 0) * 1.0 / c_len AS p1,
    COALESCE(clip2, 0) * 1.0 / (c_len - 1) AS p2,
    CASE WHEN c_len < r_len THEN exp(1.0 - r_len * 1.0 / c_len) ELSE 1.0 END AS bp
  FROM sc
)
SELECT source, count(*)::BIGINT AS n_pairs,
       ROUND(AVG(p1), 6) AS avg_p1, ROUND(AVG(p2), 6) AS avg_p2,
       ROUND(AVG(bp * sqrt(p1 * p2)), 6) AS avg_bleu2
FROM b GROUP BY source ORDER BY source
""",
)
def eval_bleu_ngram_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    t = docs.select(
        "doc_id",
        "source",
        textstats.tokens(F.col("text")).alias("w"),
        F.row_number().over(W.partitionBy("source").orderBy("doc_id")).alias("rn"),
    )
    c = t.select("source", F.col("rn").alias("crn"), F.col("w").alias("cw"))
    r = t.select(F.col("source").alias("rsrc"), F.col("rn").alias("rrn"), F.col("w").alias("rw"))
    pr = c.join(
        r, (F.col("rsrc") == F.col("source")) & (F.col("rrn") == F.col("crn") + 1)
    ).filter((F.size("cw") >= 2) & (F.size("rw") >= 2))

    def bigrams(col):
        return F.zip_with(
            F.slice(col, 1, F.greatest(F.size(col) - 1, F.lit(0))),
            F.slice(col, 2, F.greatest(F.size(col) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )

    def clipped(cand, ref):
        # sum over distinct grams g of min(count_cand(g), count_ref(g))
        # = |multiset intersection|. r13: ONE sorted merge-fold instead
        # of a filter() pass over BOTH arrays per distinct gram (that
        # form is O(distinct x (|cand|+|ref|)) interpreted HOF evals per
        # row -- the query measured 20.4 s at sf0.1, 2.9 s with this).
        # Tag each occurrence with its side, sort (struct order = gram,
        # then side), and fold: runs of one gram arrive contiguously, so
        # on every gram change add min(c, r) of the finished group.
        # Counts are the same exact integers, so clip1/clip2 and every
        # downstream double are bit-identical (pinned by
        # test_bleu_clipped_merge_fold_matches_counting).
        tagged = F.array_sort(
            F.concat(
                F.transform(cand, lambda g: F.struct(g.alias("g"), F.lit(0).alias("t"))),
                F.transform(ref, lambda g: F.struct(g.alias("g"), F.lit(1).alias("t"))),
            )
        )

        def step(acc, e):
            # null-safe "new group": first element's prev is NULL
            same = F.when(e["g"] == acc["cur"], F.lit(True)).otherwise(F.lit(False))
            c_inc = F.when(e["t"] == 0, F.lit(1)).otherwise(F.lit(0))
            r_inc = F.when(e["t"] == 1, F.lit(1)).otherwise(F.lit(0))
            return F.struct(
                e["g"].alias("cur"),
                F.when(same, acc["c"] + c_inc).otherwise(c_inc).alias("c"),
                F.when(same, acc["r"] + r_inc).otherwise(r_inc).alias("r"),
                F.when(same, acc["acc"])
                .otherwise(acc["acc"] + F.least(acc["c"], acc["r"]))
                .alias("acc"),
            )

        return F.aggregate(
            tagged,
            F.struct(
                F.lit(None).cast("string").alias("cur"),
                F.lit(0).alias("c"),
                F.lit(0).alias("r"),
                F.lit(0).alias("acc"),
            ),
            step,
            lambda acc: acc["acc"] + F.least(acc["c"], acc["r"]),
        )

    g = pr.select(
        "source",
        F.size("cw").alias("c_len"),
        F.size("rw").alias("r_len"),
        clipped(F.col("cw"), F.col("rw")).alias("clip1"),
        clipped(bigrams(F.col("cw")), bigrams(F.col("rw"))).alias("clip2"),
    )
    b = g.select(
        "source",
        (F.coalesce(F.col("clip1"), F.lit(0)) * 1.0 / F.col("c_len")).alias("p1"),
        (F.coalesce(F.col("clip2"), F.lit(0)) * 1.0 / (F.col("c_len") - 1)).alias("p2"),
        F.when(
            F.col("c_len") < F.col("r_len"),
            F.exp(1.0 - F.col("r_len") * 1.0 / F.col("c_len")),
        )
        .otherwise(F.lit(1.0))
        .alias("bp"),
    )
    return (
        b.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("p1"), 6).alias("avg_p1"),
            F.round(F.avg("p2"), 6).alias("avg_p2"),
            F.round(F.avg(F.col("bp") * F.sqrt(F.col("p1") * F.col("p2"))), 6).alias("avg_bleu2"),
        )
        .orderBy("source")
    )


@register(
    "eval_weighted_kappa",
    doc="linearly-weighted Cohen's kappa between two ORDINAL raters "
    "over documents: rater A = quality-score quintile "
    "(floor(5 s) capped at 4 on the snapped logistic score), rater "
    "B = length quintile ((rank-1)*5 div N over n_chars via the "
    "hierarchical scan -- no NTILE). kappa_w = 1 - SUM v_ij O_ij / "
    "SUM v_ij E_ij with disagreement weights v_ij = |i-j|/4; O is "
    "the integer contingency, E the margin products over N. The "
    "25-cell sums reassociate and are rounded at 6. Plain kappa "
    "ignores HOW far apart ordinal raters disagree; the weighted "
    "form is the ordinal-correct eval.",
    oracle=f"""
WITH s AS (
  SELECT doc_id, n_chars,
         least(CAST(floor(floor((1.0 / (1.0 + exp(-({_quality_z_sql()})))) * 1048576 + 0.5) / 1048576 * 5) AS INT), 4) AS a
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
r AS (
  SELECT doc_id, a,
         CAST(((ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)) - 1) * 5
              // (SELECT count(*) FROM s) AS INT) AS b
  FROM s
),
o AS (SELECT a, b, count(*)::BIGINT AS o FROM r GROUP BY a, b),
ma AS (SELECT a, SUM(o)::BIGINT AS na FROM o GROUP BY a),
mb AS (SELECT b, SUM(o)::BIGINT AS nb FROM o GROUP BY b),
n AS (SELECT SUM(o)::BIGINT AS n FROM o),
grid AS (
  SELECT ga.a, gb.b FROM (SELECT DISTINCT a FROM o) ga CROSS JOIN (SELECT DISTINCT b FROM o) gb
),
cells AS (
  SELECT grid.a, grid.b,
         ABS(grid.a - grid.b) / 4.0 AS v,
         COALESCE(o.o, 0) AS obs,
         ma.na * 1.0 * mb.nb / n.n AS exp
  FROM grid
  LEFT JOIN o ON o.a = grid.a AND o.b = grid.b
  JOIN ma ON ma.a = grid.a JOIN mb ON mb.b = grid.b CROSS JOIN n
)
SELECT (SELECT n FROM n) AS n_docs,
       ROUND(SUM(v * obs), 6) AS weighted_observed,
       ROUND(SUM(v * exp), 6) AS weighted_expected,
       ROUND(1.0 - SUM(v * obs) / SUM(v * exp), 6) AS weighted_kappa
FROM cells
""",
)
def eval_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    g = F.lit(float(1 << 20))
    score = F.floor(filtering.linear_quality_score(F.col("text")) * g + F.lit(0.5)) / g
    s = docs.select(
        "doc_id",
        "n_chars",
        F.least(F.floor(score * 5).cast("int"), F.lit(4)).alias("a"),
    )
    r = global_scan(s, [ScanSpec(("n_chars", "doc_id"), rank="i", n="n_tot")]).select("a", F.expr("cast((i - 1) * 5 div n_tot as int)").alias("b"))
    o = r.groupBy("a", "b").agg(F.count(F.lit(1)).alias("o"))
    ma = o.groupBy("a").agg(F.sum("o").alias("na"))
    mb = o.groupBy("b").agg(F.sum("o").alias("nb"))
    n = o.agg(F.sum("o").alias("n"))
    grid = o.select("a").distinct().crossJoin(o.select("b").distinct())
    cells = (
        grid.join(o, ["a", "b"], "left")
        .join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(n))
        .select(
            (F.abs(F.col("a") - F.col("b")) / 4.0).alias("v"),
            F.coalesce(F.col("o"), F.lit(0)).alias("obs"),
            (F.col("na") * 1.0 * F.col("nb") / F.col("n")).alias("exp"),
            F.col("n"),
        )
    )
    return cells.groupBy("n").agg(
        F.round(F.sum(F.col("v") * F.col("obs")), 6).alias("weighted_observed"),
        F.round(F.sum(F.col("v") * F.col("exp")), 6).alias("weighted_expected"),
        F.round(
            1.0 - F.sum(F.col("v") * F.col("obs")) / F.sum(F.col("v") * F.col("exp")), 6
        ).alias("weighted_kappa"),
    ).select(
        F.col("n").cast("long").alias("n_docs"),
        "weighted_observed",
        "weighted_expected",
        "weighted_kappa",
    )


@register(
    "eval_average_precision",
    doc="average precision (area under the PR curve by the step "
    "integral) for the snapped quality score predicting lang = 'en': "
    "AP = SUM over distinct descending scores of "
    "(R_i - R_{i-1}) P_i. Works entirely on the per-SCORE rollup "
    "(positives/negatives per distinct snapped value), cumulated in "
    "score-descending order through the hierarchical scan -- the "
    "exact metric eval_pr_curve's 19-threshold grid approximates. "
    "All counts integral; each step's P_i and dR are exact integer "
    "ratios; the final sum over distinct scores reassociates and is "
    "rounded at 6.",
    oracle=f"""
WITH s AS (
  SELECT floor((1.0 / (1.0 + exp(-({_quality_z_sql()})))) * 1048576 + 0.5) / 1048576 AS score,
         (lang = 'en')::INT AS y
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
g AS (
  SELECT score, SUM(y)::BIGINT AS np, count(*)::BIGINT AS n
  FROM s GROUP BY score
),
c AS (
  SELECT score, np, n,
         SUM(np) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS cum_p,
         SUM(n) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS cum_n
  FROM g
),
tot AS (SELECT SUM(np)::BIGINT AS p FROM g)
SELECT (SELECT p FROM tot) AS n_positives,
       count(*)::BIGINT AS n_distinct_scores,
       ROUND(SUM((np * 1.0 / tot.p) * (cum_p * 1.0 / cum_n)), 6) AS average_precision
FROM c, tot
""",
)
def eval_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    gs = F.lit(float(1 << 20))
    score = F.floor(filtering.linear_quality_score(F.col("text")) * gs + F.lit(0.5)) / gs
    s = docs.select(score.alias("score"), (F.col("lang") == "en").cast("int").alias("y"))
    g = s.groupBy("score").agg(F.sum("y").alias("np"), F.count(F.lit(1)).alias("n"))
    # cumulate positives and totals in score-DESC order via the scan:
    # the distinct-score grain scales with the 2^20 grid occupancy
    c2 = global_scan(
        g.withColumn("_np", F.col("np").cast("double")).withColumn(
            "_n", F.col("n").cast("double")
        ),
        [
            ScanSpec(("score desc",), val="_np", cum="cum_p"),
            ScanSpec(("score desc",), rank="i2", val="_n", cum="cum_n"),
        ],
    )
    tot = g.agg(F.sum("np").alias("p"))
    return (
        c2.crossJoin(F.broadcast(tot))
        .agg(
            F.max("p").alias("n_positives"),
            F.count(F.lit(1)).alias("n_distinct_scores"),
            F.round(
                F.sum((F.col("np") * 1.0 / F.col("p")) * (F.col("cum_p") * 1.0 / F.col("cum_n"))),
                6,
            ).alias("average_precision"),
        )
        .select(
            F.col("n_positives").cast("long").alias("n_positives"),
            F.col("n_distinct_scores").cast("long").alias("n_distinct_scores"),
            "average_precision",
        )
    )


@register(
    "eval_matthews_correlation",
    doc="Matthews correlation coefficient for the en-density rater's "
    "is-English call (the eval_fleiss_kappa rater-C spelling) "
    "against the stored label -- the chance-robust "
    "single number that survives class imbalance where accuracy and "
    "F1 mislead (the kappa sibling on the same confusion lineage): "
    "MCC = (TP TN - FP FN) / sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN)). "
    "The four cells are exact integers and the expression is spelled "
    "with the same operation order on both engines, so MCC is an "
    "identical double, emitted unrounded.",
    oracle="""
WITH cell AS (
  SELECT
    SUM(CASE WHEN p AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
    SUM(CASE WHEN p AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp,
    SUM(CASE WHEN NOT p AND y THEN 1 ELSE 0 END)::BIGINT AS fn,
    SUM(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END)::BIGINT AS tn
  FROM (
    SELECT lang = 'en' AS y,
      CASE WHEN text IS NULL THEN FALSE
           WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], t)))::DOUBLE
                / greatest(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')), 1)
                >= 0.03
           THEN TRUE ELSE FALSE END AS p
    FROM documents
  )
)
SELECT tp, fp, fn, tn,
       (tp * 1.0 * tn - fp * 1.0 * fn)
         / sqrt((tp + fp) * 1.0 * (tp + fn) * ((tn + fp) * 1.0 * (tn + fn))) AS mcc
FROM cell
""",
)
def eval_matthews_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # predictor: the en-density rater (the eval_fleiss_kappa rater C
    # spelling) -- en stopword ratio clears the 0.03 floor
    p = F.coalesce(textstats.stopword_ratio(F.col("text"), "en") >= 0.03, F.lit(False))
    cell = docs.select(
        (F.col("lang") == "en").alias("y"), p.alias("p")
    ).agg(
        F.sum(F.when(F.col("p") & F.col("y"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("p") & ~F.col("y"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("p") & F.col("y"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("p") & ~F.col("y"), 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return cell.select(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        (
            (tp * 1.0 * tn - fp * 1.0 * fn)
            / F.sqrt((tp + fp) * 1.0 * (tp + fn) * ((tn + fp) * 1.0 * (tn + fn)))
        ).alias("mcc"),
    )


@register(
    "text_ari_readability",
    doc="Automated Readability Index per source -- the character-based "
    "readability twin to text_readability's syllable-based Flesch "
    "(ARI's inputs are exactly countable: letters, words, sentences; "
    "no syllable heuristic): ARI = 4.71 chars/word + 0.5 "
    "words/sentence - 21.43, averaged over docs. Characters count "
    "non-space letters (length of the space-stripped token mass), "
    "sentences split on [.!?]+ with an every-engine-identical regex; "
    "all three counts are exact integers per doc, the per-doc ARI is "
    "a fixed-order expression, and only the per-source mean "
    "reassociates (rounded at 4).",
    oracle="""
WITH t AS (
  SELECT source,
         list_filter(string_split(trim(text), ' '), x -> x <> '') AS w,
         greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                  s -> trim(s) <> '')), 1) AS sentences
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
d AS (
  SELECT source,
         COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS chars,
         greatest(len(w), 1) AS words, sentences
  FROM t WHERE len(w) > 0
)
SELECT source, count(*)::BIGINT AS n_docs,
       ROUND(AVG(4.71 * chars / words + 0.5 * words / sentences - 21.43), 4) AS avg_ari,
       ROUND(AVG(chars * 1.0 / words), 4) AS avg_chars_per_word,
       ROUND(AVG(words * 1.0 / sentences), 4) AS avg_words_per_sentence
FROM d GROUP BY source ORDER BY source
""",
)
def text_ari_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    w = textstats.tokens(F.col("text"))
    sentences = F.greatest(
        F.size(F.filter(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    )
    d = docs.filter(F.size(w) > 0).select(
        "source",
        F.coalesce(
            F.aggregate(F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, e: a + e),
            F.lit(0),
        ).alias("chars"),
        F.greatest(F.size(w), F.lit(1)).alias("words"),
        sentences.alias("sentences"),
    )
    ari = 4.71 * F.col("chars") / F.col("words") + 0.5 * F.col("words") / F.col("sentences") - 21.43
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(ari), R).alias("avg_ari"),
            F.round(F.avg(F.col("chars") * 1.0 / F.col("words")), R).alias("avg_chars_per_word"),
            F.round(F.avg(F.col("words") * 1.0 / F.col("sentences")), R).alias(
                "avg_words_per_sentence"
            ),
        )
        .orderBy("source")
    )


@register(
    "embed_cosine_histogram",
    doc="pairwise-cosine histogram over the first 100 embeddings "
    "(4,950 pairs) -- the embedding-collapse diagnostic: a healthy "
    "space puts mass near 0, a collapsed one near 1 (the isotropy "
    "score's distributional view). Cosines use the sequential-fold "
    "dot/norm discipline so every pair's double is engine-identical "
    "and the floor(10 cos) bucket cannot straddle; counts and shares "
    "are exact integer ratios, plus per-bucket min/max cosine "
    "rounded at 6.",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id < 100),
p AS (
  SELECT {_duck_dot('a.vec', 'b.vec', 64)} / ({_duck_norm('a.vec')} * {_duck_norm('b.vec')}) AS cos
  FROM v a JOIN v b ON b.vec_id > a.vec_id
),
b AS (
  SELECT greatest(least(CAST(floor(cos * 10) AS INT), 9), -10) AS bucket, cos FROM p
),
tot AS (SELECT count(*)::BIGINT AS n FROM p)
SELECT bucket, count(*)::BIGINT AS n_pairs,
       count(*) * 1.0 / tot.n AS share,
       ROUND(MIN(cos), 6) AS min_cos, ROUND(MAX(cos), 6) AS max_cos
FROM b, tot GROUP BY bucket, tot.n ORDER BY bucket
""",
)
def embed_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = emb.filter(F.col("vec_id") < 100).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )

    def fold_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, e: acc + e
        )

    a = v.select(F.col("vec_id").alias("ia"), F.col("vec").alias("va"))
    b = v.select(F.col("vec_id").alias("ib"), F.col("vec").alias("vb"))
    p = a.join(b, F.col("ib") > F.col("ia")).select(
        (
            fold_dot(F.col("va"), F.col("vb"))
            / (F.sqrt(fold_dot(F.col("va"), F.col("va"))) * F.sqrt(fold_dot(F.col("vb"), F.col("vb"))))
        ).alias("cos")
    )
    bkt = F.greatest(F.least(F.floor(F.col("cos") * 10).cast("int"), F.lit(9)), F.lit(-10))
    tot = p.agg(F.count(F.lit(1)).alias("n"))
    return (
        p.select(bkt.alias("bucket"), "cos")
        .crossJoin(F.broadcast(tot))
        .groupBy("bucket", "n")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("cos"), 6).alias("min_cos"),
            F.round(F.max("cos"), 6).alias("max_cos"),
        )
        .select(
            "bucket",
            "n_pairs",
            (F.col("n_pairs") * 1.0 / F.col("n")).alias("share"),
            "min_cos",
            "max_cos",
        )
        .orderBy("bucket")
    )


@register(
    "sample_class_balanced_downsample",
    doc="class-balanced downsampling for training data: every language "
    "class is cut to the MINORITY class size by keeping each class's "
    "lowest doc_ids (a deterministic, engine-portable stand-in for "
    "hash-rank selection -- DuckDB lacks xxhash64, and the contract "
    "under test is exact-k-per-class, not which k). Per-class ranks "
    "come from a lang-partitioned row_number; at 100 TB a handful of "
    "giant class partitions would make that the skew bottleneck and "
    "the per-class hierarchical scan is the stated path (the "
    "orders_rfm_segments rationale). Readout: per class, original "
    "size, kept size (== global minimum), and the kept-id boundary.",
    oracle="""
WITH c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
k AS (SELECT MIN(n)::BIGINT AS k FROM c),
r AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
),
kept AS (SELECT lang, doc_id FROM r, k WHERE rn <= k.k)
SELECT c.lang, c.n AS original_n, (SELECT k FROM k) AS kept_n,
       MAX(kept.doc_id) AS max_kept_doc_id
FROM c JOIN kept USING (lang)
GROUP BY c.lang, c.n
ORDER BY c.lang
""",
)
def sample_class_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    k = c.agg(F.min("n").alias("k"))
    r = docs.select(
        "lang",
        "doc_id",
        F.row_number().over(W.partitionBy("lang").orderBy("doc_id")).alias("rn"),
    )
    kept = r.crossJoin(F.broadcast(k)).filter(F.col("rn") <= F.col("k"))
    return (
        kept.groupBy("lang")
        .agg(F.max("doc_id").alias("max_kept_doc_id"), F.max("k").alias("kept_n"))
        .join(F.broadcast(c), "lang")
        .select(
            "lang",
            F.col("n").alias("original_n"),
            F.col("kept_n").cast("long").alias("kept_n"),
            "max_kept_doc_id",
        )
        .orderBy("lang")
    )
