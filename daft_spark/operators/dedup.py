"""Document deduplication operators — exact, normalized, MinHash+LSH,
SimHash, n-gram Jaccard.

Parity + extension: the reference ships minhash/simhash kernels
(reference: ``src/daft-minhash/``, ``daft/functions/misc.py:428-462``)
but not the LSH pipeline; this module provides the full
shingle -> signature -> band -> bucket-join -> verify pipeline as a
Spark-first composition.

Scale design (100 TB posture):
- Signatures are computed with array higher-order functions — zero
  shuffle, zero Python, whole-stage codegen.
- Candidate generation shuffles (band_hash) keys only — a few hundred
  bytes/doc, never the documents themselves.
- Exact verification joins payloads ONLY for candidate pairs.
- All hashing is xxhash64 with fixed integer seeds — deterministic
  across runs/partitionings.

Cache lifecycle: operators persist() small intermediate frames that
their returned plan reads more than once (Spark does not reuse
exchanges across self-join aliases). The cache must outlive the
returned (lazy) DataFrame, so these functions cannot unpersist it
themselves — blocks are MEMORY_AND_DISK and LRU-evictable, and callers
running many pipelines in one long-lived session can reclaim
explicitly with ``daft_spark.context.release_caches(spark)`` (or
``spark.catalog.clearCache()``).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_TOKEN_PATTERN = "[a-z0-9]+"

# r15: the two forced broadcasts inside the miners (oversized-bucket
# reps, hot stop-shingles) are bounded BY CONSTRUCTION, not by
# assertion — each is counted first (one cheap job over an
# already-cached frame) and falls back to a plain shuffle join above
# this many rows. 2M keys-only rows ≈ tens of MB broadcast — safely
# inside the driver/executor budget at the default 8 GB broadcast cap;
# production tunes via env without touching code.
_BROADCAST_KEY_LIMIT = int(
    os.environ.get("SPARK_GRAFT_BROADCAST_KEY_LIMIT", "2000000")
)

# r15, verdict task 1 (guide §3.4) — verify-side semi-join prune:
# TRIED AND REVERTED, documented NO at every locally measurable
# configuration. The idea: semi-join the verify payload side (shingle
# sets / embedding vectors) down to ids appearing in >= 1 candidate
# pair before the two verify joins consume it — at realistic
# duplication rates most docs are never candidates. Measured on
# purpose-built realistic-duplication fixtures (tools/gen_realdup.py,
# 4% dup involvement; the gen_sf fixtures are pathological — ~every
# doc is a candidate — and cannot measure the prune):
#   - 50k docs / 32c: off 8.24-8.77 s vs prune 10.2-10.6 s (LOSES
#     ~20-24%, both formulations; probes/VERIFY_PRUNE_AB_rd1*_r15.json)
#   - 500k docs / 32c: v1 (unpersisted pruned frame, semi-join runs
#     once per verify consumer) LOSES ~10%; v2 (pruned frame persisted)
#     77.6 vs 80.1 s — within noise (VERIFY_PRUNE_AB_rd10*_r15.json)
#   - 500k docs / 8c (saturated): TIE leaning old (83.7 vs 79.8 min;
#     VERIFY_PRUNE_AB_rd10_c8_r15.json)
# Mechanism: locally there is NO exchange of the sets side to remove —
# the r14 cache design already reuses the groupBy(__id) partitioning
# through the __vid rename, so the verify joins pay only in-partition
# sorts (or broadcast-probe when the sets frame is under the
# auto-broadcast threshold, as at sf0.1). The prune's fixed machinery
# (a stats job for its gate, candidate persist, ids distinct, a full
# semi scan, a persist barrier) costs more than two in-memory sorts at
# any size that fits this box. The lever's real target is the
# disk-spill / network regime (100 TB sets frames that cannot sit in
# memory), where pair identity is already proven by these probes'
# checksums — a cluster-side revisit, like the lm/dsir persists (r14).


# _spread moved to operators/spread.py (shared with text/similarity
# stages); re-exported here for the existing call sites and tests.
from daft_spark.operators.spread import spread as _spread  # noqa: E402


def normalize_text(col: Column) -> Column:
    """Canonical form for near-dup detection: lowercase, strip
    non-alphanumerics, collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def tokens_of(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def shingles_of(col: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string> — built with
    transform(sequence(...)) so it stays inside codegen."""
    toks = tokens_of(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signature(shingle_col: Column, num_hashes: int = 64) -> Column:
    """MinHash signature (array<long>, length num_hashes): per seed i,
    min over shingles of xxhash64(shingle, i). Matches the reference's
    minhash semantics (daft/functions/misc.py:428, src/daft-minhash/)
    without leaving the JVM.

    NOTE: column-expression form, O(num_hashes) array traversals — fine
    for small signature counts. The LSH pipeline uses the cheaper
    exploded formulation in ``minhash_signatures`` below."""
    # Single-arg lambdas only (a second parameter would be bound to the
    # element index by transform); closure capture of the loop var is
    # safe because transform() builds the expression eagerly.
    return F.array(
        *[
            F.array_min(F.transform(shingle_col, lambda s: F.xxhash64(s, F.lit(i))))  # noqa: B023
            for i in range(num_hashes)
        ]
    )


_MERSENNE_P = 4294967311  # smallest prime > 2^32 — universal-hash modulus


def _perm_constants(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) affine constants for universal-hash MinHash
    permutations ``(a*h + b) mod p``. Kept < 2^30 so a*h32 + b never
    overflows a signed 64-bit long (Spark 4 ANSI mode raises on
    overflow). The mod-p step is essential: without it min(a*h+b) is
    monotonic in h, every coordinate collapses to a function of min(h),
    and the 64 "permutations" are perfectly correlated (one-permutation
    MinHash by accident — near-dup pairs then share either all bands or
    none)."""
    consts = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        a = ((x >> 33) | 1) & 0x3FFFFFFF
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        b = (x >> 34) & 0x3FFFFFFF
        consts.append((a, b))
    return consts


def shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3,
    fold32: bool = True,
) -> DataFrame:
    """(id, shingle-hash) rows: posexplode the token array while KEEPING
    the array column in scope, so each shingle hash = xxhash64(token,
    tokens[p+1], ..., tokens[p+k-1]) reads its neighbors with F.get —
    an ordinary codegen expression. No window, no shuffle, no string
    building: the generate + projection fuse into one WholeStageCodegen
    span, so a 100 TB corpus shingles at scan speed (the historical
    lead()-over-window formulation shuffled and sorted every token row;
    a transform()-lambda variant evaluates interpreted, ~10x slower).
    Trailing positions pad with '' (F.get is NULL out of bounds even
    under ANSI) so short docs (< k tokens) still shingle. ``fold32``
    folds to 32 bits — required headroom for the affine MinHash
    permutations under ANSI overflow checks; pass ``fold32=False`` for
    consumers that compare shingle SETS against exact string-shingle
    oracles (containment): at ~10^5+ distinct shingles 32-bit birthday
    collisions start perturbing doc-frequency cuts and denominators,
    while 64-bit keeps P(collision) negligible (r9 advice)."""
    toks = _spread(df).select(
        F.col(id_col).alias("__id"), tokens_of(F.col(text_col)).alias("__ts")
    )
    ex = toks.select("__id", "__ts", F.posexplode("__ts").alias("__p", "__t"))
    neigh = [
        F.coalesce(F.get("__ts", F.col("__p") + j), F.lit("")) for j in range(1, shingle_k)
    ]
    h = F.xxhash64(F.col("__t"), *neigh)
    if fold32:
        h = h.bitwiseAND(F.lit(0xFFFFFFFF))
    return ex.select("__id", h.alias("__h"))


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures as a DataFrame (id, __m0..__m{n-1}) via the
    scale formulation:

    1. posexplode tokens with the array in scope — shingle hash =
       xxhash64(token, neighbors via F.get), pure codegen, NO window
       and NO shuffle of token rows;
    2. num_hashes affine permutations of the 32-bit folded hash as
       plain min() aggregates — and because every token row of a doc is
       generated inside one task, map-side partial aggregation collapses
       them before the exchange: the only shuffle moves one
       already-reduced signature row per document per partition.

    MinHash is duplicate-invariant, so shingle de-duplication is
    deliberately skipped. Trailing positions shingle with '' padding so
    short documents (< k tokens) still produce a signature."""
    return _signatures_from_hashes(
        shingle_hashes(df, text_col, id_col, shingle_k), num_hashes, seed
    )


def _signature_aggs(num_hashes: int, seed: int = 42) -> list[Column]:
    """The ``num_hashes`` universal-hash permutation minima over a
    ``__h`` shingle-hash column, aliased ``__m0..__m{n-1}``. Each is
    parsed from SQL text in 3 driver-to-JVM calls, where composing the
    same expression from Column operators makes about 70 (each operator
    and literal is its own call, and each records its Python call
    site). The expressions and their types are the same either way:
    int constants, a bigint modulus."""
    return [
        F.expr(f"min((__h * {a} + {b}) % {_MERSENNE_P}) AS __m{i}")
        for i, (a, b) in enumerate(_perm_constants(num_hashes, seed))
    ]


def _signatures_from_hashes(ex: DataFrame, num_hashes: int, seed: int = 42) -> DataFrame:
    """min-aggregate the universal-hash permutations of (__id, __h)
    shingle-hash rows into (__id, __m0..__m{n-1})."""
    return ex.groupBy("__id").agg(*_signature_aggs(num_hashes, seed))


def simhash64(token_col: Column) -> Column:
    """64-bit SimHash of a token array (reference:
    daft/functions/misc.py:462 simhash): per bit, sign of the sum of
    ±1 contributions of each token's xxhash64 bit."""
    hashes = F.transform(token_col, lambda t: F.xxhash64(t))
    bit_votes = [
        F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc  # noqa: B023 — eager build, capture is safe
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        for b in range(64)
    ]
    out = F.lit(0).cast("long")
    for b, v in enumerate(bit_votes):
        # bit 63 as two's-complement (1<<63 overflows a Java long literal)
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        out = out + F.when(v > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """SimHash-64 per document via the scale formulation: explode tokens,
    hash once, 64 conditional sums (plain aggregates, partial-agg
    friendly), then assemble the bits. Returns (__id, __sim)."""
    ex = (
        _spread(df)
        .select(F.col(id_col).alias("__id"), F.explode(tokens_of(F.col(text_col))).alias("__t"))
        .select("__id", F.xxhash64("__t").alias("__h"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(64)
    ]
    agg = ex.groupBy("__id").agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(64):
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        sim = sim + F.when(F.col(f"__v{b}") > 0, F.lit(bit_val).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("__id", sim.alias("__sim"))


def exact_dedup(df: DataFrame, cols: list[str], id_col: str, keep: str = "min") -> DataFrame:
    """Exact dedup keeping a deterministic representative per key group
    (min/max of id_col) — unlike dropDuplicates, which keeps an
    arbitrary row.

    Scale: the group-by runs over ``xxhash64(cols)`` so the keeper
    aggregation projects to (8-byte key, id) before its exchange — the
    dedup columns (often full document text) never ride a shuffle as
    group-by keys, and the representative join keys on ``id_col`` alone
    (``id_col`` must identify rows, which keep-min/max representative
    semantics already presumes). A 64-bit hash collision between two
    key groups can only merge them (dropping one representative), never
    emit a wrong row; the payload moves in exactly one exchange (the
    join's), which any dedup returning whole rows needs."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    hkey = F.xxhash64(*[F.col(c) for c in cols]).alias("__dk")
    keeper = (
        df.select(hkey, F.col(id_col))
        .groupBy("__dk")
        .agg(agg.alias(id_col))
        .select(id_col)
    )
    return keeper.join(df, on=id_col, how="inner")


def _capped_bucket_pairs(stacked: DataFrame, bucket_keys: list[str],
                         max_bucket_size: int) -> DataFrame:
    """Candidate pairs from (bucket..., __id) rows with a bucket-size cap.

    Standard LSH practice: a degenerate bucket (millions of identical
    boilerplate docs) would otherwise explode quadratically inside the
    pair expansion. Buckets <= max_bucket_size emit all pairs (via a
    cap-bounded collect_list + in-row expansion — one exchange); larger
    buckets fall back to STAR LINKING — every member pairs with the
    bucket's min id only (linear, m-1 pairs instead of m(m-1)/2).
    Downstream Jaccard/Hamming verification still confirms each pair.

    Recall caveat: star linking is exact only for buckets of IDENTICAL
    documents (every member verifies against the representative, and the
    duplicate cluster stays connected through it). In an oversized
    bucket of merely-similar documents, two members similar to each
    other but not to the representative produce only (rep, member)
    edges that verification then rejects — bounded recall loss, the
    price of bounding the quadratic. Pairs in such buckets usually also
    share OTHER band buckets (any of the b bands can produce the pair),
    which is what keeps the loss small in practice; raise
    max_bucket_size or pre-dedup exact duplicates if oversized buckets
    of non-identical docs are expected.
    """
    # Oversized buckets found with a groupBy (cheap keys-only
    # pre-check, almost always empty) and broadcast back — unlike the
    # previous unordered-window formulation, well-behaved inputs pay
    # one aggregated count, not a full-row window sort per stacked row.
    # Persisted AND bucket-partitioned: the oversized pre-check, the
    # pair aggregation, and the star path all read ``stacked``; Spark
    # does not reuse exchanges across the branches, so without the
    # repartition each bucket-keyed consumer paid its own
    # hashpartitioning exchange of the stacked stream (three in the
    # miner plan: the oversized groupBy under BOTH tagged consumers,
    # plus the collect_list pair groupBy). ONE repartition on the
    # bucket keys inside the cache fill satisfies every downstream
    # clustering requirement — the same single-exchange shape as
    # containment_pairs' __h repartition. A degenerate hot bucket's
    # rows land in one partition, but they are keys-only (~24 B) and
    # linear in the bucket size — the identical exposure the old
    # pair-groupBy exchange had. Keys-only rows, MEMORY_AND_DISK,
    # evictable — callers that keep the session alive can
    # spark.catalog.clearCache().
    #
    # The fill is EAGER (count() below): Spark plans each consumer
    # when the whole query compiles, and against a cold cache it
    # cannot see the cached plan's partitioning, so it conservatively
    # re-inserts the hashpartitioning exchange under every consumer —
    # executed-plan audit showed all three exchanges STILL running on
    # top of the lazy repartitioned cache. Materializing the cache
    # first lets every downstream plan read the built, bucket-
    # partitioned InMemoryRelation exchange-free (verified: 0
    # ENSURE_REQUIREMENTS band exchanges after the fill).
    stacked = stacked.repartition(*bucket_keys).persist()
    n_stacked = stacked.count()
    counts = stacked.groupBy(*bucket_keys).agg(
        F.count(F.lit(1)).alias("__bc"), F.min("__id").alias("__rep")
    )
    # r15: the oversized-rep broadcast is bounded BY CONSTRUCTION. The
    # common case needs NO extra work: every oversized bucket holds
    # > max_bucket_size rows, so n_oversized < n_stacked /
    # (max_bucket_size + 1) — when that arithmetic bound (free, from
    # the fill count above) clears _BROADCAST_KEY_LIMIT the forced
    # broadcast is provably safe. Only when the bound alone cannot
    # prove safety (a corpus with > limit*(cap+1) stacked rows), or
    # when the caller wants the verify-prune statistic, is the frame
    # persisted and counted — one job over the cached keys-only frame,
    # amortized at exactly the scales that trigger it. Above the limit
    # the join falls back to the exchange-free SMJ both cached sides'
    # bucket-key partitioning already supports.
    over_bound = n_stacked // (max_bucket_size + 1)
    if over_bound > _BROADCAST_KEY_LIMIT:
        oversized = counts.filter(F.col("__bc") > max_bucket_size).persist()
        n_over = oversized.count()
        safe = n_over <= _BROADCAST_KEY_LIMIT
    else:
        oversized = counts.filter(F.col("__bc") > max_bucket_size)
        safe = True  # over_bound <= limit proves it
    over_side = F.broadcast(oversized) if safe else oversized
    tagged = stacked.join(over_side, bucket_keys, "left")
    small = tagged.filter(F.col("__bc").isNull()).select(*bucket_keys, "__id")
    # Small buckets pair up via ONE collect_list aggregation + in-row
    # pair expansion (r14 optimization): the previous equi-self-join
    # shuffled the stacked rows TWICE (one exchange per join side) and
    # paid two SMJ sorts; the aggregate ships each row once and emits
    # the same (id_a < id_b) pair set from a codegen projection. The
    # per-bucket list is BOUNDED by ``max_bucket_size`` by construction
    # (oversized buckets were filtered to the star path above), so the
    # aggregation buffer is capped — this is NOT the unbounded
    # whole-bucket collect the star path exists to prevent.
    grouped = small.groupBy(*bucket_keys).agg(F.collect_list("__id").alias("__ids"))
    pair = F.explode(
        F.flatten(
            F.expr(
                "transform(__ids, (x, i) -> "
                "transform(slice(__ids, i + 2, size(__ids)), "
                "y -> struct(least(x, y) AS id_a, greatest(x, y) AS id_b)))"
            )
        )
    )
    small_pairs = (
        grouped.select(pair.alias("__p"))
        .select("__p.id_a", "__p.id_b")
        .filter(F.col("id_a") != F.col("id_b"))
    )
    star_pairs = (
        tagged.filter(F.col("__bc").isNotNull() & (F.col("__id") != F.col("__rep")))
        .select(F.col("__rep").alias("id_a"), F.col("__id").alias("id_b"))
    )
    return small_pairs.unionAll(star_pairs).distinct()


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash.

    rows_per_band = num_hashes // bands; docs sharing any band bucket
    become candidates. Probability a pair with true Jaccard j is
    produced: 1 - (1 - j^r)^b (tune bands/rows for the threshold).
    Buckets larger than ``max_bucket_size`` switch from all-pairs to
    star linking (see ``_capped_bucket_pairs``) so degenerate buckets
    can't go quadratic.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    return _band_candidates(sig, num_hashes, bands, max_bucket_size)


def _band_candidates(
    sig: DataFrame, num_hashes: int, bands: int, max_bucket_size: int
) -> DataFrame:
    """Band/bucket/self-join a (__id, __m*) signature frame into
    candidate pairs."""
    r = num_hashes // bands
    band_cols = [
        "xxhash64(concat_ws('|', {ms}), {b}) AS __band{b}".format(
            ms=", ".join(f"__m{b * r + j}" for j in range(r)), b=b
        )
        for b in range(bands)
    ]
    # (The stacked+windowed bucket frame is persisted inside
    # _capped_bucket_pairs — that cache covers every downstream read, so
    # the banded frame itself needs no second persist.)
    banded = sig.selectExpr("__id", *band_cols)
    stacked = banded.selectExpr(
        "__id",
        "stack({n}, {args}) as (band_id, band_hash)".format(
            n=bands, args=", ".join(f"{b}, __band{b}" for b in range(bands))
        ),
    )
    return _capped_bucket_pairs(stacked, ["band_id", "band_hash"], max_bucket_size)


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_k: int = 3,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs (optionally blocked
    by ``block_cols`` to bound the quadratic) — the brute-force oracle
    companion to MinHash LSH. Returns (id_a, id_b, jaccard >= threshold).

    Plan shape (r13 ADVICE): WITHOUT block_cols the right side
    BROADCASTS — callers bound ``df`` by contract (the all-pairs
    compare is the cost model), and without the hint the non-equi
    self-join plans as a CartesianProduct over spread^2 partition
    pairs (measured 625 tasks / 55 s of pure task fixed cost for a
    300-doc sample at sf10 vs ~5 s broadcast). WITH block_cols the
    join has equi-keys and stays a shuffled SMJ/SHJ on them —
    blocking is precisely the knob that makes corpus-scale inputs
    legal here, and broadcasting the corpus would OOM (mirrors
    similarity.pairs_above_threshold's 'never broadcast the
    corpus')."""
    base = _spread(df).select(
        *(block_cols or []),
        F.col(id_col).alias("__id"),
        shingles_of(F.col(text_col), shingle_k).alias("__sh"),
    )
    a = base.select(
        *[F.col(c).alias(f"__ba_{c}") for c in (block_cols or [])],
        F.col("__id").alias("id_a"),
        F.col("__sh").alias("sh_a"),
    )
    b = base.select(
        *[F.col(c).alias(f"__bb_{c}") for c in (block_cols or [])],
        F.col("__id").alias("id_b"),
        F.col("__sh").alias("sh_b"),
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols or []:
        cond = cond & (F.col(f"__ba_{c}") == F.col(f"__bb_{c}"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    right = b if block_cols else F.broadcast(b)
    return (
        a.join(right, cond)
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def hashed_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 3
) -> DataFrame:
    """(__vid, __vsh) rows: per-doc SET of 32-bit shingle hashes — the
    shuffle-free shingle hasher aggregated with collect_set (partial-agg
    collapses per-doc rows map-side, so the exchange moves ~one set per
    doc). Jaccard over these sets equals Jaccard over the shingle
    strings up to a negligible ~2^-32 per-shingle collision
    probability."""
    return (
        shingle_hashes(df, text_col, id_col, shingle_k)
        .groupBy("__id")
        .agg(F.collect_set("__h").alias("__vsh"))
        .withColumnRenamed("__id", "__vid")
    )


def jaccard_pairs_hashed(
    df: DataFrame, text_col: str, id_col: str, threshold: float, shingle_k: int = 3
) -> DataFrame:
    """Exact all-pairs Jaccard over hashed shingle sets (id_a < id_b,
    jaccard >= threshold) — the brute-force ground truth the LSH path
    approximates, using the SAME shingle sets the LSH verifier uses.

    O(n^2) by construction: this is the verification harness for
    corpus-bounded invariant checks (driver runs it on a 500-doc
    fixture), NOT the scale path — at 100 TB use minhash_lsh_candidates
    + verify_candidates_jaccard."""
    sh = hashed_shingle_sets(df, text_col, id_col, shingle_k)
    a = sh.select(F.col("__vid").alias("id_a"), F.col("__vsh").alias("sh_a"))
    b = sh.select(F.col("__vid").alias("id_b"), F.col("__vsh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # broadcast: bounded-sample contract, same CartesianProduct
    # fixed-cost fix as jaccard_pairs (625 tasks -> spread tasks)
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (inter.cast("double") / union.cast("double")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
    max_doc_freq: int = 200,
) -> DataFrame:
    """DIRECTIONAL shingle-containment near-dup pairs:
    c(a in b) = |S(a) ∩ S(b)| / |S(a)| over each document's DISTINCT
    hashed shingles — the metric that catches a document EMBEDDED in a
    larger one, which symmetric Jaccard dilutes (the union is dominated
    by |S(b)|). Quoting/boilerplate-wrapping duplicates are exactly
    this shape.

    Scale: the pair space comes from an inverted-index self-join on
    the shingle hash; shingles present in more than ``max_doc_freq``
    documents are dropped from the index AND from every denominator
    (the standard stop-shingle cut — without it one boilerplate
    shingle shared by a million docs makes the join quadratic). The
    exchange carries (hash, id) pairs only, never text. Returns
    (id_a, id_b, containment) with id_a != id_b, containment of a
    inside b, rounded to 6 decimals."""
    # Persisted: the df-cap groupBy, the denominators, and BOTH sides
    # of the inverted-index self-join read this frame — Spark does not
    # reuse exchanges across self-join aliases (see _capped_bucket_pairs),
    # so without the persist the tokenize+shingle+hash scan runs 4x.
    #
    # ONE full-frame exchange of COMPUTED rows (r14 optimization — was
    # three to four recomputing scans): the occurrence rows repartition
    # by the shingle hash once; the (h, id) dedup then needs NO second
    # exchange (hashpartitioning on __h satisfies the (__h, __id)
    # clustering requirement). Cold-planned consumers of the LAZY cache
    # do still insert conservative ENSURE_REQUIREMENTS re-exchanges of
    # the cached (not recomputed) rows on __h — the eager-fill fix that
    # removes them (à la _capped_bucket_pairs) was A/B'd and LOST at
    # sf1 (probes/CONTAINMENT_EAGER_AB_r14.json: old wins all passes,
    # worst +33%): the lazy fill pipelines the cache build into the
    # first consumer's job, and locally the in-memory re-exchanges cost
    # less than a dedicated materialization pass over this frame. On a
    # network-bound cluster that trade reverses; revisit there, not
    # here. The stop-shingle cut becomes a broadcast
    # ANTI-join against the (tiny, Zipf-bounded) set of shingles with
    # doc frequency above the cap — the same bounded-broadcast shape
    # as _capped_bucket_pairs' oversized buckets. Hot-shingle rows
    # ride the single exchange before being dropped, exactly as they
    # rode the old kept-join exchange — no new skew exposure.
    ex = (
        shingle_hashes(df, text_col, id_col, shingle_k, fold32=False)
        .select("__id", "__h")
        .repartition("__h")
        .dropDuplicates(["__h", "__id"])
        .persist()
    )
    # r15: the hot-shingle broadcast is bounded BY CONSTRUCTION, not by
    # the Zipf assumption — the hot set's true bound is
    # total_occurrences / max_doc_freq, which on a 100 TB corpus with a
    # small cap could blow the driver if force-broadcast. The set is
    # persisted (8-byte keys, one row per HOT shingle) and counted, and
    # only broadcasts under _BROADCAST_KEY_LIMIT rows; above it the
    # anti-join falls back to the exchange-free SMJ both sides' __h
    # partitioning already supports. The count job is the same
    # aggregation the broadcast build ran before (and it fills ``ex``'s
    # cache exactly where the build did), so the guard adds one
    # near-free job over the tiny cached hot frame.
    hot = (
        ex.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__h")
        .persist()
    )
    n_hot = hot.count()
    hot_side = F.broadcast(hot) if n_hot <= _BROADCAST_KEY_LIMIT else hot
    kept = ex.join(hot_side, "__h", "left_anti")
    denom = kept.groupBy("__id").agg(F.count(F.lit(1)).alias("__na"))
    a = kept.select(F.col("__id").alias("id_a"), "__h")
    b = kept.select(F.col("__id").alias("id_b"), "__h")
    inter = (
        a.join(b, "__h")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        inter.join(denom.withColumnRenamed("__id", "id_a"), "id_a")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("__n") / F.col("__na"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def duplicated_span_stats(
    df: DataFrame, text_col: str, id_col: str, window_k: int = 20
) -> DataFrame:
    """EXACT SUBSTRING duplication detection ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022 — there with a
    suffix array; here the distributed formulation): every ``window_k``-
    token rolling window is hashed, and a window whose hash appears in
    >= 2 DISTINCT documents marks a duplicated span. Returns per-doc
    (id, n_windows, n_dup_windows, dup_fraction) for docs with at
    least one window — the signal pipelines use to strip boilerplate
    and cross-document quotations that document-level near-dup misses.

    100 TB posture: windows hash INSIDE the row (transform over the
    token array, concat_ws + xxhash64 — whole-stage codegen), so the
    only exploded frame is (doc_id, window-hash) 8-byte keys at
    token-count scale; duplicated-hash detection is one map-side-
    combining groupBy, and the per-doc rollup joins keys-only. The
    document text never shuffles."""
    sep = "\x1f"
    arr = tokens_of(F.col(text_col))
    n = F.size(arr)
    idx = F.sequence(F.lit(1), n - (window_k - 1))
    wins = F.when(
        n >= window_k,
        F.transform(
            idx,
            lambda i: F.xxhash64(F.concat_ws(sep, F.slice(arr, i, window_k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    w = df.select(F.col(id_col), F.explode(wins).alias("__h"))
    dup = (
        w.groupBy("__h")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__h")
    )
    total = w.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_windows"))
    ndup = (
        w.join(dup, "__h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        total.join(ndup, id_col, "left")
        .select(
            id_col,
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("long")
            .alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"), 6
            ).alias("dup_fraction"),
        )
    )


def verify_candidates_jaccard(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_k: int = 3,
) -> DataFrame:
    """Jaccard verification of LSH candidate pairs (the standard LSH
    false-positive filter), computed over hashed shingle SETS — reuses
    the signature pipeline's linear shingle hasher instead of
    re-building string arrays (~10x cheaper); hash collisions perturb
    the similarity by a negligible ~2^-32 per shingle."""
    # Persisted: joined twice (once per pair side); hashed shingle sets
    # are a few KB/doc vs the raw text they replace.
    sh = hashed_shingle_sets(df, text_col, id_col, shingle_k).persist()
    return _verify_with_sets(candidates, sh, threshold)


def _verify_with_sets(candidates: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard filter of candidate pairs against a (__vid, __vsh)
    hashed-shingle-set frame."""
    out = (
        candidates.join(sh.withColumnRenamed("__vid", "id_a").withColumnRenamed("__vsh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__vid", "id_b").withColumnRenamed("__vsh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        out.select("id_a", "id_b", (inter.cast("double") / union.cast("double")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    seed: int = 42,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup mining: shingle -> signature ->
    band -> capped bucket join -> exact-Jaccard verify, sharing ONE
    (__id, __h) shingle frame between the signature and verify stages
    (the two most expensive scans of the corpus), so the raw text is
    tokenized and hashed exactly once. The shingle hasher is
    shuffle-free (posexplode + F.get neighbors, pure codegen) and the
    per-doc reduction is partial-agg friendly — the exchange moves
    ~one reduced row per document, never token rows. The 64 signature
    mins and the collect_set shingle sets are computed in ONE groupBy:
    collect_set forces the interpreted ObjectHashAggregate path, but
    the A/B (round 6) measured the single-exchange combined agg FASTER
    at sf0.1 warm (2.7 s vs 3.1 s) and within noise at sf10 warm
    (95.6 s vs 92.3 s full-miner) — one shuffle of the token-level
    frame instead of two offsets the codegen loss, and at 100 TB the
    saved exchange is the entire shingle stream."""
    ex = shingle_hashes(df, text_col, id_col, shingle_k)
    both = (
        ex.groupBy("__id")
        .agg(*_signature_aggs(num_hashes, seed), F.collect_set("__h").alias("__vsh"))
        .persist()
    )
    sig = both.select("__id", *[f"__m{i}" for i in range(num_hashes)])
    cands = _band_candidates(sig, num_hashes, bands, max_bucket_size)
    sets = both.select(F.col("__id").alias("__vid"), F.col("__vsh"))
    # NOTE (r15): a §3.4 semi-join prune of ``sets`` down to candidate
    # ids before the verify joins was tried and REVERTED — documented
    # NO at every locally measurable configuration; see the decision
    # record at the top of this module and the VERIFY_PRUNE_AB_* probes.
    return _verify_with_sets(cands, sets, threshold)


def minhash_lsh_stage_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    seed: int = 42,
) -> dict:
    """Per-stage row counts + wall times for the MinHash-LSH pipeline —
    the instrumentation companion of ``minhash_near_dups`` (same stages,
    same sharing of the shingle frame), so the bench's most expensive
    entry is explainable stage by stage: docs -> shingle hashes ->
    signatures -> banded rows -> candidate pairs -> verified pairs.
    Counts are exact (each stage is counted once, then reused persisted
    where the production pipeline persists)."""
    import time as _time

    stats: dict = {"params": {"num_hashes": num_hashes, "bands": bands,
                              "shingle_k": shingle_k, "threshold": threshold,
                              "max_bucket_size": max_bucket_size}}

    def _stage(name, frame):
        t0 = _time.perf_counter()
        n = frame.count()
        stats[name] = {"rows": n, "sec": round(_time.perf_counter() - t0, 3)}
        return frame

    _stage("docs", df.select(id_col))
    ex = shingle_hashes(df, text_col, id_col, shingle_k).persist()
    _stage("shingle_hashes", ex)
    sig = _signatures_from_hashes(ex, num_hashes, seed)
    _stage("signatures", sig)
    cands = _band_candidates(sig, num_hashes, bands, max_bucket_size).persist()
    _stage("candidate_pairs", cands)
    sets = ex.groupBy("__id").agg(F.collect_set("__h").alias("__vsh")).withColumnRenamed(
        "__id", "__vid"
    )
    verified = _verify_with_sets(cands, sets, threshold)
    _stage("verified_pairs", verified)
    cands.unpersist()
    ex.unpersist()
    return stats


def lsh_banding_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int = 200,
    seed: int = 42,
) -> DataFrame:
    """Banding-quality audit: measure the MinHash banding's RECALL and
    PRECISION against exact string-shingle Jaccard ground truth on a
    (caller-bounded) document sample — the dial for choosing
    (num_hashes, bands) on a NEW corpus before committing a 100 TB
    dedup run to them. The theory curve P(candidate) = 1-(1-j^r)^b
    assumes ideal permutations; this measures the real pipeline
    (xxhash64 affine permutations, 32-bit folded shingles, bucket
    caps) end to end.

    Returns ONE row: n_docs, n_true_pairs (exact Jaccard >= threshold,
    all pairs), n_candidate_pairs (banding output), n_found (true
    pairs the banding surfaced), recall, precision (fraction of
    candidates whose TRUE Jaccard clears the threshold — the share of
    verify work that isn't wasted).

    O(n^2) in the sample by construction (the ground truth IS the
    brute force) — bound ``df`` to a few hundred docs; the audit's
    point is that the sample is cheap while the measured recall
    transfers to the full corpus (banding probability depends only on
    pair Jaccard, not corpus size; bucket-cap effects grow with scale
    and are why max_bucket_size is part of the audited config)."""
    truth = jaccard_pairs(
        df, text_col, id_col, threshold=threshold, shingle_k=shingle_k
    ).select("id_a", "id_b")
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, seed)
    cands = (
        _band_candidates(sig, num_hashes, bands, max_bucket_size)
        .select("id_a", "id_b")
        .distinct()
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    t = truth.withColumn("__true", F.lit(1))
    c = cands.withColumn("__cand", F.lit(1))
    j = t.join(c, ["id_a", "id_b"], "full_outer")
    stats = j.agg(
        F.sum("__true").alias("n_true_pairs"),
        F.sum("__cand").alias("n_candidate_pairs"),
        F.sum(
            F.when(
                F.col("__true").isNotNull() & F.col("__cand").isNotNull(), 1
            )
        ).alias("n_found"),
    ).select(
        F.coalesce("n_true_pairs", F.lit(0)).alias("n_true_pairs"),
        F.coalesce("n_candidate_pairs", F.lit(0)).alias("n_candidate_pairs"),
        F.coalesce("n_found", F.lit(0)).alias("n_found"),
    )
    return n_docs.crossJoin(stats).select(
        "n_docs",
        "n_true_pairs",
        "n_candidate_pairs",
        "n_found",
        F.when(
            F.col("n_true_pairs") > 0,
            F.round(F.col("n_found") / F.col("n_true_pairs"), 6),
        ).otherwise(F.lit(1.0)).alias("recall"),
        F.when(
            F.col("n_candidate_pairs") > 0,
            F.round(F.col("n_found") / F.col("n_candidate_pairs"), 6),
        ).otherwise(F.lit(1.0)).alias("precision"),
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming, using
    the block-permutation trick: split the 64-bit hash into ``blocks``
    chunks; any pair within distance d < blocks must agree on >= 1
    chunk, so a chunk-equality join bounds candidates, then bit_count
    verifies. Chunk buckets above ``max_bucket_size`` use star linking
    (``_capped_bucket_pairs``) to bound the quadratic.
    Returns (id_a, id_b, hamming)."""
    width = 64 // blocks
    sh = simhash_signatures(df, text_col, id_col).select(
        F.col("__id"), F.col("__sim")
    ).persist()  # read by both the bucket stack and the verify join
    chunk_cols = [
        (
            F.shiftright(F.col("__sim"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias(f"__c{i}")
        )
        for i in range(blocks)
    ]
    chunked = sh.select("__id", *chunk_cols)
    stacked = chunked.selectExpr(
        "__id",
        "stack({n}, {args}) as (chunk_id, chunk_val)".format(
            n=blocks, args=", ".join(f"{i}, __c{i}" for i in range(blocks))
        ),
    )
    cand = _capped_bucket_pairs(stacked, ["chunk_id", "chunk_val"], max_bucket_size)
    cand = (
        cand.join(sh.select(F.col("__id").alias("id_a"), F.col("__sim").alias("sim_a")), "id_a")
        .join(sh.select(F.col("__id").alias("id_b"), F.col("__sim").alias("sim_b")), "id_b")
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def near_dup_resolve(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    seed: int = 42,
    max_iterations: int = 25,
    edge_sources: tuple[str, ...] = ("minhash",),
    extra_edges: DataFrame | None = None,
    containment_threshold: float = 0.8,
    containment_max_doc_freq: int = 200,
) -> DataFrame:
    """Full dedup RESOLUTION with O(n) output: every row gets
    (cluster_id, is_representative) instead of an O(pairs) edge list.

    This is the shape a 100 TB pipeline actually ships: a corpus with
    heavy exact duplication (the common case — crawl snapshots, mirror
    copies) makes pair enumeration quadratic PER GROUP (1M identical
    docs = 5*10^11 pairs), while the resolution is linear. Stages:

    1. Exact collapse: group by (xxhash64(text), length(text)) — the
       16-byte-key exchange from exact_dedup — keeping min(id) and its
       text via one min(struct) aggregate (no join-back).
    2. MinHash-LSH pair mining over the UNIQUE texts only
       (minhash_near_dups); on a 100x-duplicated corpus this is 100x
       less signature work and the capped buckets stop saturating with
       identical copies.
    3. Star edges member->group-representative (ids only) unioned with
       the representative near-dup pairs, resolved by hash-to-min
       connected components (operators/cluster.py) — near-dup clusters
       are star/clique-shaped, so label propagation converges in 2-4
       rounds of keys-only joins.

    ONE resolve API for every miner (the Lee-et-al pipeline dedups on
    minhash + containment + spans together): ``edge_sources`` picks the
    built-in miners run over the collapsed representatives —
    ``"minhash"`` (LSH banding, probabilistic recall) and/or
    ``"containment"`` (directional shingle containment >=
    ``containment_threshold`` with the ``containment_max_doc_freq``
    stop-shingle cut — catches a document EMBEDDED in a larger one,
    which Jaccard dilutes). ``extra_edges`` unions in any externally
    mined (id_a, id_b) frame (e.g. span-overlap pairs) before the
    single connected-components pass.

    The reference ships the pair kernels (daft/functions/misc.py:428);
    resolution-not-enumeration is the standard production companion
    (C4/RefinedWeb-style recipes dedup by component membership)."""
    from daft_spark.operators.cluster import duplicate_clusters

    keyed = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
        F.xxhash64(text_col).alias("__th"),
        F.length(text_col).alias("__tl"),
    )
    # localCheckpoint, not persist: the collapse output is read by three
    # independent subtrees (miner, star edges, CC) and truncating the
    # lineage here keeps AQE from re-deriving stats for the groupBy
    # chain under each of them.
    groups = (
        keyed.groupBy("__th", "__tl")
        .agg(F.min(F.struct("__id", "__text")).alias("__r"))
        .localCheckpoint(eager=True)
    )
    reps = groups.select(
        F.col("__r.__id").alias(id_col), F.col("__r.__text").alias(text_col)
    )
    unknown = set(edge_sources) - {"minhash", "containment"}
    if unknown:
        raise ValueError(f"unknown edge_sources: {sorted(unknown)}")
    edge_frames: list[DataFrame] = []
    if "minhash" in edge_sources:
        edge_frames.append(
            minhash_near_dups(
                reps, text_col, id_col,
                num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
                threshold=threshold, max_bucket_size=max_bucket_size,
                seed=seed,
            ).select("id_a", "id_b")
        )
    if "containment" in edge_sources:
        edge_frames.append(
            containment_pairs(
                reps, text_col, id_col,
                threshold=containment_threshold, shingle_k=shingle_k,
                max_doc_freq=containment_max_doc_freq,
            ).select("id_a", "id_b")
        )
    if extra_edges is not None:
        edge_frames.append(extra_edges.select("id_a", "id_b"))
    star = (
        keyed.select("__id", "__th", "__tl")
        .join(groups.select("__th", "__tl", F.col("__r.__id").alias("__rep")),
              ["__th", "__tl"])
        .filter(F.col("__id") != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col("__id").alias("id_b"))
    )
    edges = star
    for pf in edge_frames:
        edges = edges.unionAll(pf)
    return duplicate_clusters(df, edges, id_col, max_iterations=max_iterations)


def _shingle_hash_frame(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """(id, xxhash64 of each k-token shingle) keys-only frame — the
    shared explode path of the decontamination operators (in-row
    neighbor lookup, full 64-bit hashes, no text past the projection)."""
    toks = _spread(df).select(
        F.col(id_col).alias("__id"), tokens_of(F.col(text_col)).alias("__ts")
    )
    ex = toks.select("__id", "__ts", F.posexplode("__ts").alias("__p", "__t"))
    neigh = [
        F.coalesce(F.get("__ts", F.col("__p") + j), F.lit(""))
        for j in range(1, shingle_k)
    ]
    return ex.select("__id", F.xxhash64(F.col("__t"), *neigh).alias("__h"))


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Benchmark-decontamination check: flag every corpus document
    sharing at least one k-token shingle with an evaluation benchmark
    (the n-gram-overlap contamination rule of published LLM training
    pipelines — GPT-3 Appendix C / PaLM use 8-13-gram variants of
    exactly this test). Returns (id_col, n_overlap, contaminated) —
    n_overlap counts the DISTINCT shared shingles.

    Scale shape: eval benchmarks are tiny next to a 100 TB corpus, so
    the benchmark side reduces to a DISTINCT set of 64-bit shingle
    hashes and BROADCASTS; the corpus side explodes to (id, hash)
    keys-only rows (the shingle_hashes codegen path, unfolded to the
    full 64 bits so collision-induced false positives are ~n/2^64) and
    left-semi-joins executor-side. No corpus-side payload shuffle; the
    only exchange is the per-doc count keyed by id."""

    def _hashes(df: DataFrame) -> DataFrame:
        return _shingle_hash_frame(df, text_col, id_col, shingle_k)

    bmark_set = _hashes(bench).select("__h").distinct()
    per_doc = (
        _hashes(docs)
        .join(F.broadcast(bmark_set), "__h", "left_semi")
        .groupBy("__id")
        .agg(F.count_distinct("__h").alias("__n"))
    )
    return (
        docs.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("__id", id_col), [id_col], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce(F.col("__n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_k: int = 20,
    keep: str = "first",
) -> DataFrame:
    """EXACT-SUBSTRING SPAN REMOVAL — the acting half of
    ``duplicated_span_stats`` (Lee et al. 2022 remove the duplicated
    substrings from the corpus, not the documents carrying them):
    every ``window_k``-token rolling window whose hash appears in >= 2
    DISTINCT documents is a duplicated span; all its occurrences are
    blanked from the token stream EXCEPT the canonical first one
    (``keep='first'``: the minimum (doc_id, start) occurrence — the
    deterministic cross-engine tiebreak) or all of them
    (``keep='none'``). Returns (id, n_tokens, n_removed, clean_text)
    with the surviving tokens rejoined on single spaces. Note the
    inherent cut-and-concatenate artifact (same as Lee et al.'s
    pipeline): tokens on either side of a removed span become
    adjacent, so the CLEANED corpus can contain windows that did not
    exist before removal — re-running detection on the output is a
    new analysis, not a fixpoint check.

    100 TB posture: windows hash IN-ROW (same construction as
    duplicated_span_stats — the exploded frame is (doc_id, start,
    hash) at token scale, never text); duplicate detection and the
    keep-first winner are ONE map-side-combining groupBy over the
    hash (count distinct docs + min(struct(doc, start)) together);
    removal starts flow back as a keys-only join, fold to one small
    int array per affected doc, and the blanking itself is an in-row
    filter over the token array — document text never shuffles."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    sep = "\x1f"
    arr = tokens_of(F.col(text_col))
    base = df.select(F.col(id_col), F.col(text_col), arr.alias("__arr"))
    n = F.size(F.col("__arr"))
    idx = F.sequence(F.lit(1), n - (window_k - 1))
    wins = F.when(
        n >= window_k,
        F.transform(
            idx,
            lambda i: F.struct(
                i.alias("__i"),
                F.xxhash64(
                    F.concat_ws(sep, F.slice(F.col("__arr"), i, window_k))
                ).alias("__h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<__i:int,__h:bigint>>"))
    w = base.select(
        F.col(id_col).alias("__id"), F.explode(wins).alias("__w")
    ).select("__id", F.col("__w.__i").alias("__i"), F.col("__w.__h").alias("__h"))
    per_hash = w.groupBy("__h").agg(
        F.count_distinct("__id").alias("__nd"),
        F.min(F.struct(F.col("__id"), F.col("__i"))).alias("__keep"),
    )
    hits = w.join(per_hash.filter(F.col("__nd") >= 2), "__h")
    if keep == "first":
        hits = hits.filter(
            ~((F.col("__id") == F.col("__keep.__id")) & (F.col("__i") == F.col("__keep.__i")))
        )
    rm = hits.groupBy("__id").agg(F.collect_set("__i").alias("__rm"))
    joined = base.join(
        rm.withColumnRenamed("__id", id_col), id_col, "left"
    )
    kept = F.filter(
        F.col("__arr"),
        lambda x, j: ~F.exists(
            F.coalesce(F.col("__rm"), F.array().cast("array<int>")),
            lambda s: (s <= j + 1) & (j + 1 < s + window_k),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("__arr").cast("long").alias("n_tokens"),
        (F.size("__arr") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def remove_duplicated_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
    min_occurrences: int = 2,
    keep: str = "first",
) -> DataFrame:
    """CORPUS-LEVEL LINE DEDUP — the RefinedWeb / MassiveText "remove
    exact duplicated lines across documents" stage (Penedo et al. 2023
    §"line-wise corrections"; the C4 pipeline's three-sentence-span
    analogue): split every document on ``sep``, count each line's
    occurrences across the WHOLE corpus, and blank every occurrence of
    a line appearing >= ``min_occurrences`` times — except the
    canonical first one (``keep='first'``: the minimum (doc_id, pos)
    occurrence, the deterministic cross-engine tiebreak) or all of
    them (``keep='none'``, the RefinedWeb choice for boilerplate).
    Returns (id, n_lines, n_removed, clean_text) with surviving lines
    rejoined on ``sep``; a fully-boilerplate document comes back with
    clean_text = '' (filter on n_lines > n_removed to drop).

    Complements ``remove_duplicated_spans`` (token-window granularity,
    Lee et al.) with the line granularity production web pipelines
    use: nav bars, cookie banners, and footers repeat VERBATIM as
    whole lines, so line-hash equality catches them without the
    rolling-window cost.

    100 TB posture: lines hash IN-ROW (the exploded frame is
    (doc_id, pos, line_hash) — 20 bytes/line, never text); the
    occurrence count and keep-first winner are ONE map-side-combining
    groupBy over the 8-byte hash; removal positions flow back as a
    keys-only join folded to one small int array per affected doc;
    the blanking is an in-row array filter — document text never
    shuffles. Reference surface: the reference ships text utilities
    and dedup kernels (src/daft-minhash/) but no line-dedup operator;
    this is the pipeline-level extension its users run downstream.
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if min_occurrences < 2:
        raise ValueError("min_occurrences must be >= 2")
    import re as _re

    arr = F.split(F.col(text_col), _re.escape(sep))
    base = df.select(F.col(id_col), arr.alias("__lines"))
    w = base.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.transform(F.col("__lines"), lambda l: F.xxhash64(l))
        ).alias("__i", "__h"),
    )
    per_hash = w.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.struct(F.col("__id"), F.col("__i"))).alias("__keep"),
    )
    hits = w.join(per_hash.filter(F.col("__n") >= min_occurrences), "__h")
    if keep == "first":
        hits = hits.filter(
            ~(
                (F.col("__id") == F.col("__keep.__id"))
                & (F.col("__i") == F.col("__keep.__i"))
            )
        )
    rm = hits.groupBy("__id").agg(F.collect_set("__i").alias("__rm"))
    joined = base.join(rm.withColumnRenamed("__id", id_col), id_col, "left")
    no_rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("__lines"), lambda x, j: ~F.array_contains(no_rm, j)
    )
    return joined.select(
        F.col(id_col),
        F.size("__lines").cast("long").alias("n_lines"),
        (F.size("__lines") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(sep, kept).alias("clean_text"),
    )


def incremental_novel(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    normalized: bool = False,
) -> DataFrame:
    """INCREMENTAL DEDUP — the production shape of exact dedup: a new
    ingest ``batch`` is checked against an EXISTING ``corpus`` without
    re-deduplicating the corpus itself (the daily-crawl-vs-100 TB-index
    case). A batch document survives iff its content hash appears
    nowhere in the corpus AND it is the first occurrence within the
    batch (minimum id — the deterministic representative, same
    convention as ``exact_dedup``). Returns (id, n_copies) where
    n_copies counts the batch-internal copies of the surviving text;
    join back on id for payloads.

    ``normalized=True`` dedups on the canonical ``normalize_text``
    form instead of raw text.

    100 TB posture: both sides reduce to (xxhash64(text), length)
    16-byte keys IN-ROW before any exchange; the corpus side
    pre-collapses to DISTINCT keys (map-side combine — the corpus
    text never shuffles and its key set is the only thing exchanged),
    then one LEFT ANTI join keyed on the hash and one
    map-side-combining groupBy within the batch. An ingest pipeline
    persists the corpus key frame once and reuses it per batch.
    Equivalent to text equality absent a 64-bit-hash+length collision
    (the ``exact_dedup`` caveat); the oracle states the text
    semantics directly."""
    key = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    ck = (
        corpus.select(
            F.xxhash64(key).alias("__h"), F.length(key).alias("__len")
        )
        .groupBy("__h", "__len")
        .agg(F.lit(1).alias("__one"))
        .drop("__one")
    )
    bk = batch.select(
        F.col(id_col),
        F.xxhash64(key).alias("__h"),
        F.length(key).alias("__len"),
    )
    novel = bk.join(ck, ["__h", "__len"], "left_anti")
    return (
        novel.groupBy("__h", "__len")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


def bloom_contamination(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    bits_per_key: int = 20,
    num_hashes: int = 14,
) -> DataFrame:
    """BLOOM-FILTER decontamination — ``benchmark_contamination`` with
    the broadcast side compressed into a bit array: at 10^9 benchmark
    shingles the distinct-hash broadcast is 8 GB, the Bloom bitset at
    ``bits_per_key`` bits is ~3x smaller and constant-time to probe.
    The error is ONE-SIDED in the safe direction: contaminated
    documents are NEVER missed (no false negatives, the Bloom
    guarantee); a tunably small fraction of clean documents is flagged
    extra (shingle-level fp ~(1-e^-0.7)^k; at the 20/14 defaults
    ~7e-5, amplifying to well under 1% doc-level on ~60-shingle docs).
    Returns (id, flagged boolean).

    Plan: the benchmark reduces to DISTINCT 64-bit shingle hashes,
    folds into (word_idx, OR of bit masks) via one map-side-combining
    groupBy, and the word table collects into a numpy uint64 array
    broadcast once per job (exactly how Spark's own runtime-filter
    BloomFilterAggregate materializes — the bitset must exist
    somewhere to broadcast). Corpus shingles probe it inside an
    Arrow-batched pandas UDF (vectorized double hashing, Kirsch &
    Mitzenmacher 2006: pos_i = (h1 + i*h2) mod m with m a power of
    two; h1/h2 masked to 47/32 bits so the arithmetic never
    overflows a signed long). The corpus side stays keys-only:
    (id, h1, h2) rows, one groupBy(id) for the per-doc flag."""
    n = (
        _shingle_hash_frame(bench, text_col, id_col, shingle_k)
        .select("__h")
        .distinct()
        .count()
    )
    m_bits = 1 << max(6, int(n * bits_per_key - 1).bit_length())
    mask = m_bits - 1
    h1m, h2m = (1 << 47) - 1, (1 << 32) - 1
    bset = (
        _shingle_hash_frame(bench, text_col, id_col, shingle_k)
        .select("__h")
        .distinct()
        .select(
            F.col("__h").bitwiseAND(F.lit(h1m)).alias("__h1"),
            F.xxhash64("__h").bitwiseAND(F.lit(h2m)).alias("__h2"),
        )
    )
    pos = bset.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: (F.col("__h1") + i * F.col("__h2")).bitwiseAND(
                    F.lit(mask)
                ),
            )
        ).alias("__pos")
    )
    words = (
        pos.select(
            F.shiftright("__pos", 6).alias("__w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__bits"))
        .collect()
    )
    import numpy as np

    arr = np.zeros(m_bits >> 6, dtype=np.uint64)
    for r in words:
        arr[int(r["__w"])] = np.uint64(r["__bits"] & 0xFFFFFFFFFFFFFFFF)
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(arr)
    nh, mk = int(num_hashes), mask

    @F.pandas_udf("boolean")
    def _probe(h1, h2):
        import pandas as pd

        w = bc.value
        a = h1.to_numpy(dtype="int64").astype(np.uint64) & np.uint64(h1m)
        b = h2.to_numpy(dtype="int64").astype(np.uint64) & np.uint64(h2m)
        ok = np.ones(len(a), dtype=bool)
        for i in range(nh):
            p = (a + np.uint64(i) * b) & np.uint64(mk)
            bit = (w[(p >> np.uint64(6)).astype(np.int64)] >> (p & np.uint64(63))) & np.uint64(1)
            ok &= bit.astype(bool)
        return pd.Series(ok)

    ch = _shingle_hash_frame(docs, text_col, id_col, shingle_k).select(
        "__id",
        F.col("__h").alias("__h1raw"),
        F.xxhash64("__h").alias("__h2raw"),
    )
    probed = ch.select(
        "__id", _probe(F.col("__h1raw"), F.col("__h2raw")).alias("__hit")
    )
    per_doc = probed.groupBy("__id").agg(F.max("__hit").alias("__f"))
    return (
        docs.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("__id", id_col), [id_col], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__f"), F.lit(False)).alias("flagged"),
        )
    )


def fuzzy_contamination(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """NEAR-DUP decontamination — the fuzzy upgrade of
    ``benchmark_contamination``: that operator catches VERBATIM k-gram
    overlap; this one catches paraphrase-level contamination (lightly
    edited benchmark items inside the training corpus) the way modern
    release reports decontaminate — MinHash Jaccard against the eval
    set rather than exact n-grams. A corpus document is flagged when
    its verified shingle-set Jaccard against ANY benchmark document
    reaches ``threshold``. Returns (id, n_bench_matches, max_jaccard,
    contaminated) for every corpus document.

    Plumbing: the two frames stack into one id space (benchmark ids
    fold to the negative range, so no remap table is needed), the
    standard banded MinHash pipeline mines candidates, and only
    CROSS-side pairs survive — corpus-internal and bench-internal
    duplicates never verify, so the bench side adds O(|bench|) to the
    banding, not O(|corpus|^2). Same 100 TB posture as the dedup
    pipeline: signatures in-row, band keys only in the exchange,
    payloads join only for candidate pairs."""
    c = docs.select(
        F.col(id_col).cast("long").alias("__sid"), F.col(text_col).alias("__text")
    )
    b = bench.select(
        (-F.col(id_col).cast("long") - 1).alias("__sid"),
        F.col(text_col).alias("__text"),
    )
    pairs = minhash_near_dups(
        c.unionByName(b), "__text", "__sid",
        num_hashes=num_hashes, bands=bands, threshold=threshold,
    )
    cross = pairs.filter((F.col("id_a") < 0) != (F.col("id_b") < 0))
    hits = cross.select(
        F.when(F.col("id_a") >= 0, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("__did"),
        F.col("jaccard"),
    )
    per_doc = hits.groupBy("__did").agg(
        F.count(F.lit(1)).alias("n_bench_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        docs.select(F.col(id_col).cast("long").alias(id_col))
        .join(per_doc.withColumnRenamed("__did", id_col), [id_col], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bench_matches"), F.lit(0)).cast("long").alias(
                "n_bench_matches"
            ),
            F.col("max_jaccard"),
            (F.coalesce(F.col("n_bench_matches"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def resolve_keep_best(
    clustered: DataFrame,
    quality_col: str,
    id_col: str,
) -> DataFrame:
    """Keeper POLICY over a resolved clustering: production dedup keeps
    the best-QUALITY member of each duplicate cluster, not the
    min-id one (the min-id representative from ``duplicate_clusters``/
    ``near_dup_resolve`` is a deterministic anchor, but when a crawl
    holds five near-copies you keep the longest / cleanest / highest-
    scored copy and drop the rest). Input: any frame carrying
    (id_col, cluster_id, quality_col). Output: the input plus
    ``keeper_id`` (the cluster's max-quality member, min id on ties —
    fully deterministic) and ``is_kept``. Works for ANY orderable id
    type — string doc ids (URLs, hashes) included; the earlier
    arithmetic-negation tiebreak (-id) only handled numerics and would
    overflow long-min under ANSI (r13 ADVICE).

    One exchange: a window partitioned on cluster_id ordered by
    (quality desc, id asc) takes the first id as keeper — no second
    frame, no join back; the quality column rides the existing rows
    and no text moves. At 100 TB this replaces the
    filter("is_representative") step at identical cost."""
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col(quality_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = clustered.withColumn("keeper_id", F.first(id_col).over(w))
    return out.withColumn("is_kept", F.col(id_col) == F.col("keeper_id"))


def quality_shift_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str = "quality",
    by: list[str] | None = None,
) -> DataFrame:
    """DEDUP-BIAS audit: exact dedup (16-byte hash keys, min-id keeper)
    and then, per ``by`` group, whether the removed copies differ in
    quality from the kept representatives — the post-dedup sanity check
    before trusting a curated mix (mass duplication concentrates in
    specific sources/templates, so dedup can silently shift a source's
    quality profile). Returns one row per group:

      n_docs / n_kept / n_removed / removal_rate
      q_kept_avg / q_removed_avg — mean quality of keepers vs removed
                                   copies (null when nothing removed)

    Scale shape: one window over (xxhash64(text), length) moving
    (id, by, quality) rows — the text column itself never shuffles —
    then one narrow aggregation per group. Averages are emitted
    round-6 so an external SQL replay matches bit-for-bit."""
    cols = list(by or [])
    keyed = df.select(
        F.col(id_col),
        *cols,
        F.col(quality_col).alias("__q"),
        F.xxhash64(text_col).alias("__h"),
        F.length(text_col).alias("__len"),
    )
    w = Window.partitionBy("__h", "__len")
    keyed = keyed.withColumn(
        "__kept", F.col(id_col) == F.min(id_col).over(w)
    )
    kept = F.col("__kept")
    agg = keyed.groupBy(*cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum((~kept).cast("long")).alias("n_removed"),
        F.avg(F.when(kept, F.col("__q"))).alias("__qk"),
        F.avg(F.when(~kept, F.col("__q"))).alias("__qr"),
    )
    return agg.select(
        *cols,
        "n_docs",
        "n_kept",
        "n_removed",
        F.round(F.col("n_removed") / F.col("n_docs").cast("double"), 6)
        .alias("removal_rate"),
        F.round("__qk", 6).alias("q_kept_avg"),
        F.round("__qr", 6).alias("q_removed_avg"),
    )
