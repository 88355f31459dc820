"""Deduplication operators — the training-data-pipeline extension suite
(BASELINE.json north star; beyond the reference's own surface).

Five families, all expressed as relational DataFrame plans (no UDFs in
the hot path — every hash is an md5/conv column expression so the
DuckDB oracle can reproduce values bit-for-bit):

- exact:            content-hash groupBy
- n-gram Jaccard:   shingle inverted index → pair counts → |A∩B|/|A∪B|
- MinHash + LSH:    md5 minhash signatures → banded buckets → candidate
                    pairs → exact-Jaccard verification
- SimHash:          32-bit sign-aggregated token hash, hamming via
                    bit_count(xor), chunk-blocking for candidates
- embedding cosine: blocked (per-label) pairwise cosine

Scale design (100 TB): every candidate generator is a self-equi-join on
a *bucketing key* (shingle, band hash, simhash chunk, label) — shuffle
on that key, never an unkeyed cross join.  Hot buckets are the skew
risk: cap bucket width (``max_bucket``) like production LSH pipelines,
and let AQE split stragglers.  Verification joins carry only
(id, id) + small payloads.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dogsheep_beta_spark.functions.tokenizer import PORTABLE_SPLIT


def tokens_expr(col):
    """Portable tokenizer as a column expression (shared with DuckDB)."""
    return F.filter(F.split(F.lower(F.coalesce(col, F.lit(""))), PORTABLE_SPLIT), lambda x: x != "")


def grams_expr(tokens, k: int):
    """k-token grams joined by single spaces — the BAG (duplicates
    kept, document order).  Shared window builder under
    ``shingles_expr`` (which distincts it) and the DSIR hashed-bigram
    features (which must NOT — bag-of-ngrams counts).

    Guarded for short docs: Spark's sequence(0, n) with n < 0 would
    produce a DESCENDING sequence, so size < k yields [] explicitly.

    PERFORMANCE CONTRACT: pass ``tokens`` as a BOUND COLUMN (project
    ``tokens_expr(...)`` to a named column first), never the raw
    tokenize expression.  The slice lambda below references ``tokens``
    once per window, and Spark's higher-order functions re-evaluate
    non-attribute child expressions on every lambda invocation — an
    inlined tokenizer turns this linear pass quadratic (measured 28×
    on 500-token docs).  ``bound_tokens`` is the helper."""
    if k == 1:
        return tokens
    sh = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - k),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k)),
    )
    return F.when(F.size(tokens) >= k, sh).otherwise(
        F.array().cast("array<string>")
    )


def shingles_expr(tokens, k: int):
    """k-token shingles joined by single spaces (DISTINCT set) — see
    ``grams_expr`` for the window builder and its performance
    contract."""
    return F.array_distinct(grams_expr(tokens, k))


def bound_tokens(df: DataFrame, id_col: str | None, text_col: str) -> DataFrame:
    """Project the token array to a bound column ``__tk`` (plus ``id``)
    so downstream HOF lambdas see an attribute, not an expression —
    see the performance contract on ``shingles_expr``."""
    cols = [F.col(id_col).alias("id")] if id_col else []
    return df.select(*cols, tokens_expr(F.col(text_col)).alias("__tk"))


def doc_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct shingle set per document."""
    return (
        bound_tokens(df, id_col, text_col)
        .select(
            "id",
            F.explode(shingles_expr(F.col("__tk"), k)).alias("shingle"),
        )
        .where(F.col("shingle") != "")
        .distinct()
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash dedup: one shuffle on md5(text).

    Returns (fingerprint, n_dups, keep_id) per content group — keep_id
    is the smallest id (deterministic survivor pick).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col).alias("id"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("id").alias("keep_id"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def _jaccard_from_shingles(s: DataFrame) -> DataFrame:
    """(a, b, jaccard) from an exploded distinct (id, shingle) table.

    shared(a,b) = #common shingles from the self-join on shingle;
    |A∪B| = |A| + |B| - shared.  One shuffle on shingle + one on the
    pair key."""
    sizes = s.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = s.select(F.col("id").alias("a"), "shingle")
    b = s.select(F.col("id").alias("b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
        .select(
            "a",
            "b",
            (F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))).alias(
                "jaccard"
            ),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_bucket: int = 0,
    cache_registry: list | None = None,
) -> DataFrame:
    """All-pairs shingle-set Jaccard via the inverted-index join.

    ``max_bucket`` drops shingles shared by more than that many docs
    (stop-shingle pruning — at scale a shingle in 10^6 docs contributes
    10^12 candidate pairs and no information).

    The (pruned) shingle table is persisted: it feeds the per-doc size
    aggregation AND both sides of the inverted-index self-join, so
    without the cache the tokenize→shingle→distinct pipeline runs
    three times (the round-1 bench paid exactly that).  Pass
    ``cache_registry`` (a list) to receive the persisted intermediate
    and own its lifecycle — ``__spark_entry__.teardown`` unpersists
    registered caches; without it the cache lives until the session
    ends."""
    s = doc_shingles(df, id_col, text_col, k)
    if max_bucket:
        hot = s.groupBy("shingle").count().filter(F.col("count") > max_bucket)
        s = s.join(hot.select("shingle"), "shingle", "left_anti")
    s = s.persist()
    if cache_registry is not None:
        cache_registry.append(s)
    return _jaccard_from_shingles(s)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


MINHASH_PRIME = 2147483647  # 2^31 - 1; keeps a*h+b < 2^62 (no overflow)


def minhash_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the affine hash family
    h_i(x) = (a_i*x + b_i) mod p — generated driver-side and inlined as
    literals so any engine (DuckDB oracle included) reproduces them."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(n_hashes)
    ]


def _minhash_signatures(pre: DataFrame, n_hashes: int) -> DataFrame:
    """(id, m0..m{n-1}) from a (id, shingles array) table — the ONE
    definition of the production signature family, shared by the LSH
    pair generator, the calibration report AND the streaming merge so
    the three can never drift.  Entirely MAP-SIDE (round 8): the
    per-doc min folds over the shingle ARRAY via ``minhash_signature``
    (same ``minhash_params`` seed, identical values), so the signature
    build adds ZERO exchanges — the old explode + groupBy(id) shuffled
    every shingle row per batch, which dominated the streaming merge's
    per-batch wall.  One md5 per shingle, n_hashes affine mins."""
    sig = minhash_signature(F.col("shingles"), n_hashes)
    return pre.select("id", sig.alias("__sig")).select(
        "id",
        *[
            F.element_at("__sig", i + 1).alias(f"m{i}")
            for i in range(n_hashes)
        ],
    )


def banded_rows(sigs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) — each signature split into ``bands`` bucket
    keys of ``n_hashes/bands`` rows (docs sharing ANY (band, bucket)
    are LSH candidates).  Shared by the batch pair generator and the
    streaming maintainer so the banding can never drift."""
    if bands < 1 or n_hashes % bands:
        # r = n_hashes // bands would silently DROP the trailing hashes
        # (weakening LSH below the configured width), and bands >
        # n_hashes gives r = 0: every bucket key becomes '' and the
        # band self-join degenerates to an all-pairs cross join
        raise ValueError(
            f"bands={bands} must evenly divide n_hashes={n_hashes} "
            "(each band is a bucket key of n_hashes/bands rows)"
        )
    r = n_hashes // bands
    return sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"m{bi * r + j}").cast("string")
                            for j in range(r)
                        ],
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def minhash_signature(shingles, n_hashes: int, seed: int = 42):
    """Array of ``n_hashes`` minhashes in ONE pass over the shingles.

    Base hash = md5 truncated to 32 bits mod p (one md5 per shingle —
    not one per (i, shingle): at 100 TB the hash is the dominant cost
    of the signature build).  Each h_i is a cheap affine transform of
    the base; the aggregate folds the per-shingle candidate vector into
    the elementwise minimum."""
    params = minhash_params(n_hashes, seed)
    base = F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        % MINHASH_PRIME,
    )
    return F.aggregate(
        base,
        F.array(*[F.lit(MINHASH_PRIME) for _ in range(n_hashes)]).cast(
            "array<bigint>"
        ),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[(h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME) for a, b in params]
            ),
            lambda x, y: F.least(x, y),
        ),
    )


def cross_minhash_pairs(
    df: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    max_bucket: int = 0,
    cache_registry: list | None = None,
    pre_df: DataFrame | None = None,
    pre_ref: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs BETWEEN a corpus and a frozen REFERENCE set —
    the train-vs-heldout cross-dedup a pretraining pipeline runs before
    shipping (drop training docs that near-duplicate an eval/benchmark
    document; the document-level complement of n-gram
    ``decontaminate``).

    Same signature family as ``minhash_lsh_pairs`` (shared
    ``_minhash_signatures``/``banded_rows``), but candidate generation
    is a banded EQUI-JOIN between the two tables — never a self-join —
    so its cost is Σ_buckets |corpus bucket|·|ref bucket|, bounded by
    the (typically tiny) reference side.  Verification is exact shingle
    Jaccard; callers filter on the returned ``jaccard``.

    ``max_bucket`` prunes (band, bucket) keys whose REFERENCE width
    exceeds the cap (broadcast anti-join on both sides — the
    jaccard_pairs stop-shingle discipline): a boilerplate bucket shared
    by the whole reference set would otherwise pair with most of the
    corpus.  0 disables.

    Both shingle tables are PERSISTED (they feed the signature build
    AND the per-pair verification — tokenize/shingle exactly once per
    side); pass ``cache_registry`` (a list) to own their lifecycle,
    the same contract as ``minhash_lsh_pairs``.  ``pre_df``/
    ``pre_ref`` (r13, guide §1.2) inject prebuilt persisted
    (id, shingles) tables for the corresponding side — e.g. two
    filters of ONE shared corpus-wide shingle materialization, since
    shingling is row-wise and commutes with row filters; injected
    frames keep their owner's lifecycle (not registered here).

    Returns (id, ref_id, jaccard) — corpus ids on the left, reference
    ids on the right, each verified pair once."""

    def prep(d: DataFrame, injected: DataFrame | None) -> DataFrame:
        if injected is not None:
            return injected
        out = (
            bound_tokens(d, id_col, text_col)
            .select("id", shingles_expr(F.col("__tk"), k).alias("shingles"))
            .where(F.size("shingles") > 0)
            .persist()
        )
        if cache_registry is not None:
            cache_registry.append(out)
        return out

    a, b = prep(df, pre_df), prep(ref, pre_ref)
    ba = banded_rows(_minhash_signatures(a, n_hashes), n_hashes, bands)
    bb = banded_rows(_minhash_signatures(b, n_hashes), n_hashes, bands)
    if max_bucket:
        hot = F.broadcast(
            bb.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("w"))
            .where(F.col("w") > max_bucket)
            .select("band", "bucket")
        )
        ba = ba.join(hot, ["band", "bucket"], "left_anti")
        bb = bb.join(hot, ["band", "bucket"], "left_anti")
    cand = (
        ba.join(
            bb.select(
                "band", "bucket", F.col("id").alias("ref_id")
            ),
            ["band", "bucket"],
        )
        .select("id", "ref_id")
        .distinct()
    )
    sa = a.select("id", F.col("shingles").alias("sa"))
    sb = b.select(F.col("id").alias("ref_id"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(sa, "id")
        .join(sb, "ref_id")
        .select(
            "id",
            "ref_id",
            (inter / (F.size("sa") + F.size("sb") - inter)).alias("jaccard"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    verify_k: int | None = None,
    max_bucket: int = 0,
    cache_registry: list | None = None,
    pre: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs + exact-Jaccard verification.

    ``pre`` (r13, guide §1.2): a prebuilt persisted (id, shingles)
    table for exactly ``df``'s rows at this ``k`` — callers that hold
    a shared shingle materialization (one corpus, several
    MinHash-family consumers) inject it instead of re-tokenizing and
    re-shingling per consumer.  The injected frame's lifecycle stays
    with its owner: it is NOT added to ``cache_registry``.

    signatures → ``bands`` buckets of ``n_hashes/bands`` rows; docs
    colliding in ANY band become candidates (one self-join on the band
    value); candidates are verified with exact shingle Jaccard.

    At 100 TB this is THE scalable near-dup plan: signature build is a
    map-only pass, banding shuffles once on (band_id, band_hash), and
    only candidates (≪ n²) reach verification.

    ``max_bucket`` bounds the band self-join against mass-duplicated
    corpora (the sibling of ``jaccard_pairs``' stop-shingle cap): a
    bucket holding w docs normally yields w(w-1)/2 candidate rows in
    ONE join task, so a single 10^6-way exact-dup class is a 5·10^11-row
    straggler.  Buckets wider than ``max_bucket`` switch from all-pairs
    to a CHAIN — docs ranked by id within the bucket, one candidate per
    consecutive rank — so a hot bucket contributes w-1 candidates, not
    O(w²).  Chained docs are mutual near-dups with overwhelming
    probability (they agreed on a full band), so the chain keeps the
    duplicate CLASS connected and ``connected_components`` transitivity
    recovers exactly the same clusters; only the non-adjacent pair rows
    (redundant for clustering) are skipped.  Candidate count is thereby
    bounded by Σ_small w² + Σ_hot (w−1).  0 disables the cap.

    Docs shorter than ``verify_k`` tokens (no verify-shingles) fall
    back to their ``k``-shingle sets for verification instead of being
    dropped — otherwise two identical 5-token docs would surface as
    LSH candidates and then silently vanish from the output.

    Pass ``cache_registry`` (a list) to own the lifecycle of the two
    persisted intermediates (shingle sets + banded signatures), the
    same contract as ``jaccard_pairs`` — long-running processes (serve
    mode) should unpersist them per call; without it the caches live
    until the session ends.
    """
    # per-doc shingle sets — persisted because they feed BOTH the
    # signature aggregation and the per-pair verification (tokenize/
    # shingle exactly once).  shingle-less docs drop out here (they
    # would all collide on an all-NULL bucket).
    own_pre = pre is None
    if own_pre:
        pre = (
            bound_tokens(df, id_col, text_col)
            .select("id", shingles_expr(F.col("__tk"), k).alias("shingles"))
            .where(F.size("shingles") > 0)
            .persist()
        )
    sigs = _minhash_signatures(pre, n_hashes)
    return _minhash_pairs_from(
        df, id_col, text_col, pre, sigs,
        k, n_hashes, bands, verify_k, max_bucket, cache_registry,
        register_pre=own_pre,
    )


def _minhash_pairs_from(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pre: DataFrame,
    sigs: DataFrame,
    k: int,
    n_hashes: int,
    bands: int,
    verify_k: int | None,
    max_bucket: int,
    cache_registry: list | None,
    register_pre: bool = True,
) -> DataFrame:
    """``minhash_lsh_pairs`` continued from precomputed shingle sets +
    signatures (r12): callers that ALSO consume the raw signature
    components (``minhash_calibration``'s estimator audit) inject the
    frames they already hold instead of re-tokenizing and re-hashing
    the corpus a second time.  ``register_pre=False`` keeps an
    INJECTED shared shingle table out of the caller-owned registry
    (r13): registries are unpersisted by their owners, which must not
    tear down a materialization other consumers still share."""
    banded = banded_rows(sigs, n_hashes, bands).persist()
    if cache_registry is not None:
        if register_pre:
            cache_registry.append(pre)
        cache_registry.append(banded)
    if max_bucket:
        # Hot-bucket keys are few by definition (each one is a wide
        # duplicate class), so they broadcast: the split below is two
        # map-side joins, no extra shuffle of the banded table.
        widths = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("w")
        )
        hot_keys = F.broadcast(
            widths.where(F.col("w") > max_bucket).select("band", "bucket")
        )
        cold = banded.join(hot_keys, ["band", "bucket"], "left_anti")
        pair_src = (
            cold.alias("x")
            .join(cold.alias("y"), ["band", "bucket"])
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        )
        hot = banded.join(hot_keys, ["band", "bucket"], "left_semi")
        rk = F.row_number().over(
            Window.partitionBy("band", "bucket").orderBy("id")
        )
        ranked = hot.withColumn("r", rk)
        chain = (
            ranked.alias("x")
            .join(
                ranked.alias("y"),
                [
                    F.col("x.band") == F.col("y.band"),
                    F.col("x.bucket") == F.col("y.bucket"),
                    F.col("x.r") + 1 == F.col("y.r"),
                ],
            )
            .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        )
        cand = pair_src.unionByName(chain).distinct()
    else:
        cand = (
            banded.alias("x")
            .join(banded.alias("y"), ["band", "bucket"])
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            .distinct()
        )
    # verification per candidate PAIR: join each pair to its two
    # shingle sets and intersect map-side.  O(#candidates × set size) —
    # NOT the inverted-index join over candidate docs, whose cost is
    # Σ_shingle df² and explodes quadratically on mass-duplicated
    # corpora (a 20×-replicated 100k-doc corpus made it 400× more
    # expensive; per-pair verification stays proportional to the
    # candidate count).
    if verify_k and verify_k != k:
        # short docs (no verify_k-shingles) must not silently vanish
        # from the output (an inner join against a verify_k-only table
        # dropped even exact duplicates), and the fallback must be
        # decided PER PAIR: comparing one side's k-shingles against the
        # other's verify_k-shingles intersects incompatible
        # granularities and mis-scores a true near-dup as ~0 — when
        # EITHER side lacks verify_k-shingles, both sides verify on
        # their k-shingles.
        vk = shingles_expr(F.col("__tk"), verify_k)
        kk = shingles_expr(F.col("__tk"), k)
        vpre = (
            bound_tokens(df, id_col, text_col)
            .select("id", kk.alias("ks"), vk.alias("vs"))
            .where(F.size("ks") > 0)
        )
        sa = vpre.select(
            F.col("id").alias("a"),
            F.col("ks").alias("ksa"),
            F.col("vs").alias("vsa"),
        )
        sb = vpre.select(
            F.col("id").alias("b"),
            F.col("ks").alias("ksb"),
            F.col("vs").alias("vsb"),
        )
        use_v = (F.size("vsa") > 0) & (F.size("vsb") > 0)
        joined = (
            cand.join(sa, "a")
            .join(sb, "b")
            .select(
                "a",
                "b",
                F.when(use_v, F.col("vsa")).otherwise(F.col("ksa")).alias("sa"),
                F.when(use_v, F.col("vsb")).otherwise(F.col("ksb")).alias("sb"),
            )
        )
    else:
        # reuse the persisted shingle sets — no re-tokenization
        sa = pre.select(F.col("id").alias("a"), F.col("shingles").alias("sa"))
        sb = pre.select(F.col("id").alias("b"), F.col("shingles").alias("sb"))
        joined = cand.join(sa, "a").join(sb, "b")
    inter = F.size(F.array_intersect("sa", "sb"))
    return joined.select(
        "a",
        "b",
        (inter / (F.size("sa") + F.size("sb") - inter)).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash32_expr(tokens):
    """32-bit SimHash over the token multiset.

    token hash = first 8 hex chars of md5 as a 32-bit int (conv→long),
    computed ONCE per token; bit b of the simhash = sign of
    Σ_tokens (±1 by token bit b).  Pure JVM expressions, and the same
    arithmetic is expressible in DuckDB for the oracle.

    Single pass over the token array: the aggregate folds each token's
    ±1 bit-vector into a 32-element vote accumulator (one md5 + one
    zip_with per token), instead of 32 separate array traversals.
    """
    hashes = F.transform(
        tokens, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    # powers[b] = 2^b as a constant array; bitwiseAND against the lambda
    # variable works where shiftright's python wrapper does not.
    powers = F.array(*[F.lit(1 << b) for b in range(32)]).cast("array<bigint>")
    votes = F.aggregate(
        hashes,
        F.expr("array_repeat(0, 32)"),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                powers, lambda p: F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1)
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) via explode + PACKED partial aggregation.

    Equivalent to ``simhash32_expr`` (same values, property-tested) but
    structured for the engine: tokens become rows and the per-doc vote
    sums use hash aggregation with map-side combine.  Instead of 32
    separate ±1 vote sums (round 1: a 32-long agg buffer and 32 when()
    evaluations per row), the 32 per-bit set-counts are packed into
    EIGHT longs of four 16-bit lanes: lane b of long j accumulates
    Σ_tokens bit(4j+k).  9 agg expressions, ~4× less buffer, much
    smaller codegen (cold-start dominated the round-1 bench at 2.4×).

    Unpack: votes_b = 2·count_b − n_tokens > 0 ⟺ bit b set.  The
    packed-lane capacity is 32767 tokens per doc — beyond that, lane
    counts would carry into the next 15-bit lane — and docs over the
    cap raise a loud per-doc error (seen below).  The lanes are spaced
    15 bits (shifts 0/15/30/45) rather than 16 precisely so the SUM
    itself cannot overflow a signed long before the guard runs: the
    top lane accumulates ≤ n·2^45, safe for n up to 2^18 — and the
    token stream is hard-capped at 2^18 rows per doc (a slice before
    the explode; truncation only affects docs the guard rejects
    anyway), so Spark 4's default ANSI mode can never throw a cryptic
    ArithmeticException mid-aggregation in place of the guard's error.
    To lift the capacity, widen to 8 longs × 2 lanes of 32 bits.
    NULL token (empty doc) contributes count 0 on every bit and n=1,
    so votes = −1 everywhere -> simhash 0, same as the array form.
    """
    toks = tokens_expr(F.col(text_col))
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(F.slice(toks, 1, 1 << 18)).alias("t"),
    )
    h = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")

    def lane_sum(j: int):
        e = None
        for k in range(4):
            b = 4 * j + k
            c = F.shiftleft(F.shiftright(h, b).bitwiseAND(F.lit(1)), 15 * k)
            e = c if e is None else e + c
        return F.sum(e).alias(f"p{j}")

    packed = tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"), *[lane_sum(j) for j in range(8)]
    )
    # Unpack as ONE higher-order aggregate over bit positions instead
    # of a 32-term when() chain (r9): the chained form cost ~0.45 s of
    # CATALYST PLANNING per fresh evaluation (resolution + type
    # coercion over ~300 nodes) — the dominant share of this query's
    # recorded bench wall, which is plan+floors, not data.  Values are
    # bit-identical (pinned by the property test and the strict
    # oracle).  Variable shifts aren't expressible in the lambda, so
    # the lane compare uses the mask trick: with mask_k covering lane
    # k's 15 bits, 2·(p_j & mask_k) > n·2^(15k) ⟺ 2·cnt_b > n; the
    # products stay under 2^61 for every doc the capacity guard admits
    # (n ≤ 32767), and the guard's otherwise-branch laziness keeps
    # over-cap rows from evaluating this expression at all.
    ps = F.array(*[F.col(f"p{j}") for j in range(8)])
    masks = F.array(
        *[F.lit(((1 << 15) - 1) << (15 * k)) for k in range(4)]
    ).cast("array<bigint>")
    lane1 = F.array(*[F.lit(1 << (15 * k)) for k in range(4)]).cast(
        "array<bigint>"
    )
    pows = F.array(*[F.lit(1 << b) for b in range(32)]).cast("array<bigint>")
    _k = lambda b: F.pmod(b, 4).cast("int") + 1  # noqa: E731 — lane index
    sim = F.aggregate(
        F.sequence(F.lit(0), F.lit(31)),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc
        + F.when(
            F.element_at(ps, ((b - F.pmod(b, 4)) / 4).cast("int") + 1)
            .bitwiseAND(F.element_at(masks, _k(b)))
            * 2
            > F.col("n") * F.element_at(lane1, _k(b)),
            F.element_at(pows, b.cast("int") + 1),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    # loud per-doc failure beyond the packed-lane capacity: past 32767
    # tokens the lane sums can wrap silently (non-ANSI) or throw a
    # cryptic ArithmeticException mid-aggregation (ANSI)
    guarded = F.when(
        F.col("n") > F.lit(32767),
        F.raise_error(
            F.concat(
                F.lit("simhash_table: doc "),
                F.col("id").cast("string"),
                F.lit(
                    " exceeds the 32767-token packed-lane capacity; "
                    "widen to 32-bit lanes or chunk the document"
                ),
            )
        ).cast("long"),
    ).otherwise(sim.cast("long"))
    return packed.select("id", guarded.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    chunks: int = 4,
    cache_registry: list | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Candidate generation: split the 32-bit hash into ``chunks`` 8-bit
    chunks; pairs within hamming ≤ chunks-1 of each other must agree on
    ≥1 chunk (pigeonhole), so a self-join per chunk value finds them.
    Verification: bit_count(a XOR b) ≤ max_hamming.

    ``cache_registry``: same persisted-intermediate lifecycle contract
    as ``jaccard_pairs``/``minhash_lsh_pairs``.
    """
    # persisted: the chunk fan-out and both sides of the self-join read
    # it, so the vote aggregation runs exactly once.
    sh = simhash_table(df, id_col, text_col).persist()
    if cache_registry is not None:
        cache_registry.append(sh)
    width = 32 // chunks
    chunked = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", c * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "ckey"),
    )
    # Pair-dedup WITHOUT a distinct exchange (r9): a pair agreeing on
    # several chunks surfaces once per agreeing chunk — instead of
    # shuffling the candidates to dedupe, keep only the copy emitted by
    # the FIRST agreeing chunk (a map-side predicate over (ha, hb,
    # chunk), both hashes being present on the joined row).  One fewer
    # exchange + aggregate on a bench wall that is stage floors, not
    # data; identical output by construction.
    def chunk_eq(ha, hb, c):
        m = F.lit(((1 << width) - 1) << (c * width))
        return ha.bitwiseAND(m) == hb.bitwiseAND(m)

    ha, hb = F.col("x.simhash"), F.col("y.simhash")
    first_agree = None
    for c in range(chunks):
        this = F.col("chunk") == c
        for cp in range(c):
            this = this & ~chunk_eq(ha, hb, cp)
        first_agree = this if first_agree is None else first_agree | this
    cand = (
        chunked.alias("x")
        .join(chunked.alias("y"), ["chunk", "ckey"])
        .where((F.col("x.id") < F.col("y.id")) & first_agree)
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_expr(va, vb):
    """Cosine similarity of two array<float> columns — zip_with dot
    product + aggregate norms, all JVM-side.  NULL (not an ANSI
    divide-by-zero error) when either norm is zero: a zero vector has
    no direction, and NULL propagates through every >= tau filter as
    'no match' in both engines (round 7 — a single zero-norm embedding
    used to kill the whole job under spark.sql.ansi.enabled)."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    na = F.sqrt(
        F.aggregate(F.transform(va, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(vb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    denom = na * nb
    return F.when(denom > 0, dot / denom)


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    min_cosine: float = 0.0,
    gemm: bool = True,
    with_block: bool = False,
) -> DataFrame:
    """Blocked pairwise cosine: group on the blocking key (label /
    LSH bucket / IVF cell), all-pairs cosine within each block,
    threshold filter.  The blocking key is what makes this O(Σ block²)
    instead of O(n²).

    ``gemm=True`` (default) computes each block's pair matrix as ONE
    BLAS matmul inside an Arrow-batched applyInPandas — a b×d · d×b
    GEMM replaces b²/2 interpreted higher-order-function dot products.
    This is the 100 TB shape too: cost is FLOPS at BLAS speed within a
    block, one shuffle on the blocking key across blocks, and the
    blocking contract (a block fits an executor) is the same one the
    self-join path needs for its hash side.  ``gemm=False`` keeps the
    pure-JVM zip_with/aggregate expression path (no Python anywhere).
    """
    e = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
    )
    if gemm:
        import numpy as np
        import pandas as pd

        id_dt = e.schema["id"].dataType.simpleString()
        blk_dt = e.schema["block"].dataType.simpleString()
        out_schema = f"a {id_dt}, b {id_dt}, cosine double"
        if with_block:
            out_schema += f", block {blk_dt}"

        def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("id").reset_index(drop=True)
            n = len(pdf)
            cols = ["a", "b", "cosine"] + (["block"] if with_block else [])
            if n < 2:
                empty = {c: [] for c in cols}
                out = pd.DataFrame(empty).astype(
                    {"a": pdf["id"].dtype, "b": pdf["id"].dtype, "cosine": float}
                )
                if with_block:
                    out["block"] = out["block"].astype(pdf["block"].dtype)
                return out
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(M, axis=1)
            norms[norms == 0.0] = np.nan  # match x/0 -> non-finite semantics
            S = (M @ M.T) / np.outer(norms, norms)
            iu, ju = np.triu_indices(n, k=1)
            ids = pdf["id"].to_numpy()
            out = pd.DataFrame(
                {"a": ids[iu], "b": ids[ju], "cosine": S[iu, ju]}
            )
            if with_block:
                out["block"] = pdf["block"].iloc[0]
            if min_cosine > 0:
                out = out[out["cosine"] >= min_cosine]
            return out

        return e.groupBy("block").applyInPandas(block_pairs, out_schema)

    keep = [
        F.col("x.id").alias("a"),
        F.col("y.id").alias("b"),
        cosine_expr(
            F.col("x.v").cast("array<double>"), F.col("y.v").cast("array<double>")
        ).alias("cosine"),
    ]
    if with_block:
        # USING-join: the coalesced key survives as one column
        keep.append(F.col("block"))
    pairs = (
        e.alias("x")
        .join(e.alias("y"), "block")
        .where(F.col("x.id") < F.col("y.id"))
        .select(*keep)
    )
    if min_cosine > 0:
        pairs = pairs.where(F.col("cosine") >= min_cosine)
    return pairs


# ---------------------------------------------------------------------------
# cluster assignment — connected components over the dup-pair graph
# ---------------------------------------------------------------------------


def release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a ``localCheckpoint``'s cached blocks.

    ``DataFrame.unpersist`` is a CacheManager operation and does NOT
    touch checkpoint RDDs, so iterative algorithms that checkpoint per
    round would otherwise stack one cached label table per round until
    the JVM's ContextCleaner gets around to them.  A checkpointed
    Dataset's plan root is a LogicalRDD wrapping the persisted internal
    RDD — unpersist that directly when reachable; if the internals move
    under a future Spark, fall back silently to ContextCleaner."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        # walk through no-op wrappers (a caller that projected a work
        # column away — e.g. connected_components' __chg flag — still
        # holds the same checkpointed RDD underneath)
        hops = 0
        while plan.nodeName() in ("Project", "Filter") and hops < 4:
            plan = plan.children().head()
            hops += 1
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 25
) -> DataFrame:
    """(id, comp) — comp is the MIN id reachable in the undirected pair
    graph: the cluster-assignment step that follows ANY pair generator
    (MinHash-LSH, SimHash, embedding blocks).  Pair lists alone
    under-delete: if a~b and b~c, all three are one dup cluster even
    when (a, c) never surfaced as a pair — transitivity needs
    components, not pairs.

    Algorithm: min-label propagation plus one pointer-jumping hop per
    round (comp <- comp(comp)).  Propagation alone converges in
    O(diameter) rounds; the jump halves label-chain lengths so long
    paths close in O(log n) rounds — the standard MapReduce-CC
    technique (Hash-to-Min family).  Each round is two shuffles over
    the small (id, comp) table; the edge list is persisted once and
    re-joined per round.  Real dup graphs are tiny cliques and short
    chains, so 2-3 rounds converge; convergence is detected with an
    isEmpty (LIMIT-1 job) on the changed-label set, not a count.

    Each round's result is ``localCheckpoint``ed: iterative plans grow
    exponentially otherwise (prop's lineage enters the jump join twice,
    doubling the tree per round until plan construction itself OOMs).
    Truncating lineage per round is the standard Spark iterative-graph
    pattern; on a cluster with unreliable executors, swap in
    ``checkpoint()`` against HDFS for fault-tolerant truncation.

    At 100 TB the same loop holds: state is one row per node that
    appears in ANY pair (dup nodes only, not the corpus), edges are
    near-dup pairs — both orders of magnitude smaller than the input
    table.
    """
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # persist the symmetric edge list PRE-PARTITIONED on the per-round
    # join key (dst): every round joins edges with the fresh label
    # table on dst, so the hash partitioning persists across rounds and
    # only the (much smaller at convergence, and lineage-truncated)
    # label table crosses an exchange per superstep — the edge list,
    # the big side at scale, is shuffled exactly once at build
    # (guide §2.4 exchange-reuse; r12).
    # repartition FIRST, then dropDuplicates (r13, guide §2.4): rows
    # identical in (src, dst) hash to the same dst partition, so the
    # dedup's required clustering on {src, dst} is satisfied by the
    # hash(dst) partitioning already in place and the old standalone
    # distinct exchange disappears — one exchange builds the edge
    # table instead of two.
    edges = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("dst")
        .dropDuplicates()
        .persist()
    )
    # seed with the first propagation round for free (r12): comp₀ =
    # min(self, direct neighbors) is ONE groupBy over the edge list —
    # the same single exchange the old identity seed paid for its
    # distinct — so cliques and pairs (the dominant dup-graph shapes)
    # converge one full join-round earlier.  The invariant (comp = id
    # of some reachable node, ≤ self) holds, so the fixpoint is
    # unchanged.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__nbr"))
        .select(
            F.col("src").alias("id"),
            F.least("src", "__nbr").alias("comp"),
        )
        .persist()
    )
    for _ in range(max_iter):
        # min-label propagation as ONE union + groupBy instead of
        # join + groupBy + re-join-labels (r12, guide §2.4): each
        # node's own label rides the same aggregation as its neighbor
        # labels (own=1 tags it so the changed-check still sees the
        # previous label), collapsing three exchanges into one — the
        # groupBy(id) output is also already partitioned on id, which
        # the pointer-jump join's build side (jid=id) reuses.
        contrib = edges.join(
            labels.select(
                F.col("id").alias("dst"), F.col("comp").alias("nc")
            ),
            "dst",
        ).select(F.col("src").alias("id"), "nc", F.lit(0).alias("own"))
        prop = (
            contrib.unionByName(
                labels.select(
                    "id", F.col("comp").alias("nc"), F.lit(1).alias("own")
                )
            )
            .groupBy("id")
            .agg(
                F.min("nc").alias("comp"),
                F.max(F.when(F.col("own") == 1, F.col("nc"))).alias(
                    "__old"
                ),
            )
        )
        hop = prop.select(
            F.col("id").alias("jid"), F.col("comp").alias("jcomp")
        )
        # carry the changed-flag INSIDE the round's plan: the old label
        # rides the (tiny) prop rows through the jump join, so
        # convergence needs no separate labels re-join — and the single
        # count() action below both materializes the non-eager
        # localCheckpoint (count scans every partition) and answers the
        # convergence question.  One action per round instead of the
        # previous two (eager checkpoint + isEmpty over a join); r12,
        # guide §1.2/§2.4.
        new = (
            prop.join(hop, prop["comp"] == hop["jid"], "left")
            .select(
                "id",
                F.coalesce("jcomp", "comp").alias("comp"),
                (F.coalesce("jcomp", "comp") != F.col("__old"))
                .cast("int")
                .alias("__chg"),
            )
            .localCheckpoint(eager=False)
        )
        n_chg = new.where(F.col("__chg") == 1).count()
        done = n_chg == 0
        labels.unpersist()  # round 1: the persisted seed labels
        release_local_checkpoint(labels)  # rounds 2+: checkpoint blocks
        labels = new.drop("__chg")
        if done:
            break
    edges.unpersist()
    # the RETURNED labels still hold their final checkpoint's blocks —
    # callers that are done with the result can free them eagerly with
    # release_local_checkpoint(result)
    return labels


def cluster_keep(
    df: DataFrame, id_col: str, components: DataFrame
) -> DataFrame:
    """The keep-list: every input row tagged with its dup cluster and a
    keep flag.  Rows absent from the pair graph are their own singleton
    cluster; the kept representative is the cluster's min id (the same
    deterministic choice as ``exact_dedup``'s keep_id).  One left join
    against the (small) components table — the corpus is scanned once
    and never shuffled on anything but the join key."""
    c = components.select(
        F.col("id").alias(id_col), F.col("comp").alias("cluster")
    )
    return (
        df.join(c, id_col, "left")
        .withColumn("cluster", F.coalesce("cluster", F.col(id_col)))
        .withColumn(
            "is_keep",
            (F.col(id_col) == F.col("cluster")).cast("int"),
        )
    )


# ---------------------------------------------------------------------------
# semantic dedup — k-means-blocked embedding near-dup groups (SemDeDup)
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    tau: float = 0.95,
    gemm: bool = True,
    assigned: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): every row tagged
    with its k-means cell, semantic-dup group, and a keep flag.

    The pipeline the paper runs over web-scale corpora, composed from
    this engine's existing primitives: (1) cluster the embeddings into
    ``k`` cells (deterministic hash-seeded Voronoi —
    similarity.kmeans_cells), (2) within each cell compute pairwise
    cosine and threshold at ``tau`` (embedding_dup_pairs — the blocked
    BLAS GEMM), (3) close the thresholded pair graph into groups
    (cell-local union-find in ONE shuffle — linkage.blocked_components,
    exact because edges never cross cells; a~b and b~c is ONE group
    even when (a, c) never paired), and (4) from each group KEEP the
    member with the
    LOWEST cosine to its cell centroid — the paper's rule: the least
    prototypical example preserves diversity, where naive min-id would
    keep an arbitrary one.  Ties break on id; singletons keep
    themselves.

    Determinism discipline: both the cell argmax and the pair
    threshold compare cosines ROUNDED to 6 dp (the voronoi_assign /
    oracle convention), so any engine reproduces the exact groups.

    Scale shape (100 TB): the corpus is scanned once; centroids are a
    k-row broadcast; pair generation is O(Σ cell²) BLAS work with one
    shuffle on the cell key; components run over dup docs only (a tiny
    fraction of the corpus); group labels and keeper ids come back as
    two broadcast joins — the corpus itself never shuffles after cell
    assignment.  For corpora where cells outgrow an executor, raise
    ``k``: the paper uses k ≈ sqrt(n) clusters for exactly this
    reason.

    Returns ``df``'s columns plus ``cell`` (int), ``cent_cos`` (double,
    6 dp), ``grp`` (group label: min member id), ``is_keep`` (int).

    Pass a pre-built ``(assigned, cents)`` pair (kmeans_cells output,
    possibly persisted by an index-build step) to skip the clustering
    pass — the one-layout-many-queries amortization every IVF consumer
    here uses.
    """
    if (assigned is None) != (cents is None):
        raise ValueError(
            "semantic_dedup: pass BOTH assigned and cents or neither"
        )
    if assigned is not None and assigned is not df:
        # the layout DEFINES the row set — a df filtered differently
        # from the prebuilt assignment would silently resurrect
        # excluded rows; require the caller to pass the layout frame
        # itself so the contract is visible at the call site
        raise ValueError(
            "semantic_dedup: with a prebuilt layout, df must BE the "
            "assigned frame (the layout defines the row set)"
        )
    if assigned is None:
        # local import: similarity.py imports cosine_expr from this
        # module
        from dogsheep_beta_spark.operators.similarity import kmeans_cells

        assigned, cents = kmeans_cells(df, id_col, vec_col, k)
    c = F.broadcast(
        cents.select(
            F.col("cell"), F.col("centroid").alias("__centroid")
        )
    )
    acc = (
        assigned.join(c, "cell")
        .withColumn(
            "cent_cos",
            F.round(
                cosine_expr(
                    F.col(vec_col).cast("array<double>"), F.col("__centroid")
                ),
                6,
            ),
        )
        .drop("__centroid")
    )
    # threshold on the ROUNDED cosine (engine-portable); the GEMM's own
    # min_cosine pre-filter runs a hair below tau so rounding can only
    # ADD borderline pairs, never lose them
    pairs = embedding_dup_pairs(
        acc,
        id_col,
        vec_col,
        "cell",
        min_cosine=max(tau - 1e-6, 0.0),
        gemm=gemm,
        with_block=True,
    ).where(F.round(F.col("cosine"), 6) >= tau)
    # pairs are WITHIN-CELL by construction, so transitive closure is
    # cell-local: one shuffle of the edges to cell buckets + an
    # in-memory union-find per bucket (linkage.blocked_components) —
    # not the global multi-round label-propagation loop, whose 2-3
    # supersteps × (2 shuffles + checkpoint + convergence probe) set
    # the wall for a graph that never crosses a cell boundary.
    from dogsheep_beta_spark.operators.linkage import blocked_components

    comp = blocked_components(pairs, key_col="block", a_col="a", b_col="b")
    labels = comp.select(
        F.col("id").alias(id_col), F.col("comp").alias("grp")
    )
    dup = acc.select(F.col(id_col), "cent_cos").join(
        F.broadcast(labels), id_col
    )
    keepers = dup.groupBy("grp").agg(
        F.min_by(
            F.col(id_col), F.struct(F.col("cent_cos"), F.col(id_col))
        ).alias("__keep_id")
    )
    # labels ⋈ keepers folded into ONE broadcast (r13, guide §2.4):
    # the corpus-side plan used to carry two broadcast joins — labels,
    # then keepers keyed on the label — each of whose build jobs
    # re-executed the components subtree.  Joining the two tiny tables
    # inside a single broadcast build halves those jobs; the join is
    # inner because every labeled id's group has a keeper by
    # construction.  Values are identical: absent ids still coalesce
    # to (grp=id, is_keep=1).
    lk = F.broadcast(
        labels.join(keepers, "grp").select(
            id_col, "grp", "__keep_id"
        )
    )
    out = (
        acc.join(lk, id_col, "left")
        .withColumn("grp", F.coalesce("grp", F.col(id_col)))
        .withColumn(
            "is_keep",
            (F.coalesce("__keep_id", F.col(id_col)) == F.col(id_col)).cast(
                "int"
            ),
        )
        .drop("__keep_id")
    )
    return out


# ---------------------------------------------------------------------------
# benchmark decontamination — n-gram overlap against an eval set
# ---------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Training rows tagged with their eval-set n-gram overlap — the
    decontamination pass every published pretraining pipeline runs
    (drop training docs that leak benchmark text).

    (id, n_hits, contaminated): n_hits = how many distinct k-gram
    shingles of the doc also appear in ANY eval doc; contaminated =
    n_hits >= min_hits.

    Shape: ONE pass over train, one shuffle, no per-doc distinct.  The
    eval shingle VOCABULARY (distinct shingles, eval sets are small by
    definition) is broadcast with a hit marker; RAW train shingles
    probe it map-side via explode_outer (so shingle-less docs keep
    their row), and a conditional count-distinct per id counts the
    hits.  Partial aggregation collapses non-hits map-side to one row
    per (id, partition), so at 100 TB the shuffled volume is
    proportional to the contamination plus the id set — never the
    train shingle stream.  A per-doc-distinct-then-join plan would
    shuffle every shingle of every training document instead."""
    ev = F.broadcast(
        bound_tokens(eval_df, None, text_col)
        .select(F.explode(shingles_expr(F.col("__tk"), k)).alias("shingle"))
        .where(F.col("shingle") != "")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    tr = bound_tokens(train, id_col, text_col).select(
        "id",
        F.explode_outer(shingles_expr(F.col("__tk"), k)).alias("shingle"),
    )
    return (
        tr.join(ev, "shingle", "left")
        .groupBy("id")
        .agg(
            F.count_distinct(
                F.when(F.col("__hit") == 1, F.col("shingle"))
            ).alias("n_hits")
        )
        .select(
            "id",
            F.col("n_hits").cast("long").alias("n_hits"),
            (F.col("n_hits") >= min_hits).cast("int").alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# exact verbatim-overlap dedup (substring dedup at token granularity)
# ---------------------------------------------------------------------------


def verbatim_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_tokens: int = 20,
    max_bucket: int = 100,
    cache_registry: list | None = None,
) -> DataFrame:
    """(a, b, overlap_tokens): doc pairs sharing a VERBATIM token run of
    at least ``min_tokens`` — the exact-substring deduplication public
    pretraining pipelines run after fuzzy dedup (suffix-array method of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"; re-expressed relationally so it distributes).

    The suffix array is replaced by the shingle-DIAGONAL trick:

    1. positional k-shingles: (id, pos, xxhash64(shingle)) — NOT
       distinct; a 64-bit key, not an md5 string: the shingle stream
       feeds a self-JOIN, and 8-byte long keys shuffle/compare ~4×
       cheaper than 32-char hex (the hash only identifies the shingle,
       it never reaches the output, so the oracle can keep md5);
    2. stop-shingle pruning (df > ``max_bucket``) bounds the self-join
       exactly like the Jaccard inverted index;
    3. equi-join on the shingle hash gives co-occurrences (a, b, pa, pb)
       — a shared verbatim run of length L tokens contributes L-k+1
       consecutive co-occurrences on ONE alignment diagonal pa-pb;
    4. ONE aggregation per pair: collect the distinct (diag, pa) hits,
       sort them (lexicographic = by diagonal, then position), and scan
       the sorted array with a codegen'd ``aggregate`` fold that tracks
       the longest consecutive-pa run within each diagonal;
       overlap_tokens = k + max_run − 1, thresholded at ``min_tokens``.

    Step 4 fuses what a first-cut plan does in FOUR keyed shuffles
    (dropDuplicates on (a,b,diag,pa) → window sort by (a,b,diag) →
    islands groupBy → per-pair max) into a single shuffle on (a, b):
    ``collect_set`` dedups, ``sort_array`` orders, and the linear fold
    replaces the gaps-and-islands window — all inside the JVM, no
    Python.  Per-pair state is bounded by the co-occurrence count of
    that pair (≤ min(len_a, len_b) after stop-shingle pruning), i.e.
    doc-length-shaped, not corpus-shaped.

    The self-join itself is WINNOWING-ANCHORED (Schleimer et al. 2003
    local fingerprinting — the sampling trick Lee et al. apply to their
    suffix arrays): instead of joining every position against every
    position, each doc selects only the window-min shingle of every
    ``w = min_tokens - k + 1`` consecutive shingle positions (expected
    density 2/(w+1) per side, so candidate-join volume shrinks by
    ~((w+1)/2)² ≈ 6× at the default parameters).  Selection is
    CONTENT-based, so it is lossless: any shared verbatim run of
    ≥ min_tokens tokens spans ≥ w consecutive shingle positions, and
    the window that exactly covers the first w of them is interior to
    the run in BOTH docs — its minimum hash is therefore co-selected
    on both sides and the pair surfaces as a candidate.  (A hot shingle inside that window is impossible: the
    run survived hot-pruning, so all its positions are cold.)  The
    exact diagonal fold then runs only over the candidate docs' full
    positional streams — verification carries pairs, not the corpus.

    Collision bound (64-bit xxhash64 shingle keys): a spurious pair
    needs hash equality at one anchor (p ≈ n_anchors²/2⁶⁴ per bucket)
    AND, to inflate a run past ``min_tokens``, further collisions at
    CONSECUTIVE positions of the same diagonal — each an independent
    2⁻⁶⁴ event conditioned on distinct shingle text.  At 10¹² shingles
    the expected number of length-2 collision runs is ≪ 1; the md5
    oracle double-checks the declared query's output exactly."""
    toks = F.col("__tk")  # bound below — see shingles_expr contract
    sh = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # persisted: the per-doc shingle ARRAY feeds (a) the hot-shingle
    # aggregate, (b) the winnowed anchor stream, and (c) the full
    # positional stream for verification — caching the array form pays
    # the tokenize→shingle work once; the explodes that derive (a)-(c)
    # are cheap map-side re-runs.  Same lifecycle contract as
    # jaccard_pairs: pass ``cache_registry`` to own the unpersist.
    arr = bound_tokens(df, id_col, text_col).select("id", sh.alias("hs")).persist()
    if cache_registry is not None:
        cache_registry.append(arr)
    pos = arr.select("id", F.posexplode("hs").alias("pos", "h"))

    w = max(1, min_tokens - k + 1)
    hs = F.col("hs")
    # per window start j: min hash over hs[j..j+w-1].  Only the VALUE
    # is needed (the candidate join keys on h alone), so no argmin
    # bookkeeping — identical window content selects the identical
    # value in every doc.  array_distinct collapses the ~n/w winners.
    # Docs with fewer than w shingles select nothing — they cannot
    # reach min_tokens overlap at all.
    anchor_hashes = F.when(
        F.size(hs) >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(hs) - w),
                lambda j: F.array_min(F.slice(hs, j + 1, w)),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    anchors = arr.select("id", F.explode(anchor_hashes).alias("h"))

    if max_bucket:
        hot = (
            pos.groupBy("h")
            .agg(F.count_distinct("id").alias("df"))
            .filter(F.col("df") > max_bucket)
            .select("h")
            .persist()  # tiny (df > max_bucket keys); consumed twice
        )
        if cache_registry is not None:
            cache_registry.append(hot)
        # hot shingles are few (each is shared by > max_bucket docs):
        # broadcast the anti-join so both streams are pruned map-side
        # instead of shuffling once just to subtract them.
        hot_keys = F.broadcast(hot)
        pos = pos.join(hot_keys, "h", "left_anti")
        anchors = anchors.join(hot_keys, "h", "left_anti")

    # phase 1 — candidate pairs from the winnowed anchor self-join.
    # Persisted: the pair set is consumed three times below (two id
    # projections + the replication join), and it is tiny — pair-
    # bounded, not corpus-bounded.
    cand = (
        anchors.select(F.col("id").alias("a"), "h")
        .join(anchors.select(F.col("id").alias("b"), "h"), "h")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(cand)

    # phase 2 — exact verification over the candidate docs' FULL
    # streams, in ONE scan of the positional stream: the pair set
    # becomes role rows (each pair contributes an a-side and a b-side
    # membership), tag every stream row with the pairs it participates
    # in, aggregate per (pair, shingle) to collect each side's
    # positions, and expand the per-shingle cross product into the
    # (diag, pa) hit structs the fold consumes.  Equivalent to the
    # equi-join formulation but with one stream pass and two keyed
    # shuffles total; volume is pair-bounded (each candidate doc's
    # stream × its partner count), not corpus-bounded.  The roles join
    # deliberately carries NO broadcast hint: on typical corpora the
    # pair set is tiny and AQE broadcasts it at runtime from its REAL
    # (persisted) size, but on duplicate-heavy corpora candidates can
    # reach 10^8 rows — a forced broadcast would blow the 8 GB driver
    # limit where a shuffle join just distributes.
    roles = cand.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("id"), F.col("a"), F.col("b"),
                    F.lit(1).alias("is_a"),
                ),
                F.struct(
                    F.col("b").alias("id"), F.col("a"), F.col("b"),
                    F.lit(0).alias("is_a"),
                ),
            )
        ).alias("r")
    ).select("r.id", "r.a", "r.b", "r.is_a")
    tag = pos.join(roles, "id")
    per_shingle = tag.groupBy("a", "b", "h").agg(
        F.collect_list(F.when(F.col("is_a") == 1, F.col("pos"))).alias("pas"),
        F.collect_list(F.when(F.col("is_a") == 0, F.col("pos"))).alias("pbs"),
    )
    co = per_shingle.select(
        "a",
        "b",
        F.explode(
            F.flatten(
                F.transform(
                    F.col("pas"),
                    lambda pa: F.transform(
                        F.col("pbs"),
                        lambda pb: F.struct(
                            (pa - pb).alias("diag"), pa.alias("pa")
                        ),
                    ),
                )
            )
        ).alias("hit"),
    )
    # fold state: (d, p) = previous hit's diagonal/position, run = length
    # of the current consecutive run, best = longest run seen so far.
    zero = F.struct(
        F.lit(None).cast("int").alias("d"),
        F.lit(None).cast("int").alias("p"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("best"),
    )

    def step(acc, x):
        cont = (acc["d"].eqNullSafe(x["diag"])) & (acc["p"] + 1 == x["pa"])
        run = F.when(cont, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x["diag"].alias("d"),
            x["pa"].alias("p"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    max_run = F.aggregate(
        F.sort_array(F.collect_set("hit")), zero, step, lambda acc: acc["best"]
    )
    return (
        co.groupBy("a", "b")
        .agg((max_run + F.lit(k - 1)).cast("long").alias("overlap_tokens"))
        .where(F.col("overlap_tokens") >= min_tokens)
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    bins: int = 8,
    cache_registry: list | None = None,
    pre: DataFrame | None = None,
) -> DataFrame:
    """(bin, n_pairs, avg_est, avg_jaccard, mae) — does the MinHash
    estimator actually track exact Jaccard on THIS corpus?

    Pass ``cache_registry`` (a list) to own the lifecycle of the
    persisted intermediates (shingle sets, signatures, banded rows) —
    the ``minhash_lsh_pairs`` contract; without it they live until the
    session ends (r13, guide §5: persist-without-release audit).
    ``pre`` injects a shared persisted (id, shingles) table (the
    ``minhash_lsh_pairs`` contract — owner keeps its lifecycle).

    For every LSH candidate pair, the signature-agreement estimate
    (fraction of equal minhash components — the textbook unbiased
    Jaccard estimator) is joined against the exact shingle Jaccard the
    verifier computed, and binned.  Per-bin mean estimate vs mean exact
    vs mean |error| is the calibration curve a deployment reads before
    trusting thresholds at 100 TB, where exact verification of every
    pair is the expensive step being traded away.

    Same signature family as ``minhash_lsh_pairs`` (identical
    ``minhash_params`` constants), so the report audits exactly the
    estimator in production.  r12: the shingle sets and signatures are
    computed ONCE and shared between the pair generator and the
    estimate join (previously the corpus was re-tokenized and
    re-minhashed for the xs/ys sides — three full signature passes
    where one suffices; guide §1.2 'don't compute things twice')."""
    own_pre = pre is None
    if own_pre:
        pre = (
            bound_tokens(df, id_col, text_col)
            .select(
                "id", shingles_expr(F.col("__tk"), k).alias("shingles")
            )
            .where(F.size("shingles") > 0)
            .persist()
        )
    sigs = _minhash_signatures(pre, n_hashes).persist()
    if cache_registry is not None:
        cache_registry.append(sigs)
    # the registry also receives the banded table (and pre, if owned)
    pairs = _minhash_pairs_from(
        df, id_col, text_col, pre, sigs,
        k, n_hashes, bands, None, 0, cache_registry,
        register_pre=own_pre,
    )
    xs = sigs.select(
        F.col("id").alias("a"), *[F.col(f"m{i}").alias(f"xm{i}") for i in range(n_hashes)]
    )
    ys = sigs.select(
        F.col("id").alias("b"), *[F.col(f"m{i}").alias(f"ym{i}") for i in range(n_hashes)]
    )
    agree = sum(
        F.when(F.col(f"xm{i}") == F.col(f"ym{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    ) / F.lit(float(n_hashes))
    scored = (
        pairs.join(xs, "a")
        .join(ys, "b")
        .select("a", "b", "jaccard", agree.alias("est"))
    )
    b = F.least(F.floor(F.col("est") * bins), F.lit(bins - 1)).cast("int")
    return (
        scored.select(b.alias("bin"), "est", "jaccard")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("est"), 6).alias("avg_est"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
            F.round(F.avg(F.abs(F.col("est") - F.col("jaccard"))), 6).alias("mae"),
        )
        .orderBy("bin")
    )


def verbatim_containment(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_tokens: int = 8,
    threshold_num: int = 6,
    threshold_den: int = 10,
    max_bucket: int = 100,
    cache_registry: list | None = None,
) -> DataFrame:
    """(id, n_tokens, max_overlap, frac) for every doc FLAGGED for
    removal because a verbatim run shared with a LOWER-id doc covers at
    least ``threshold_num/threshold_den`` of its tokens — the
    containment-dedup pass public pipelines run on top of the raw
    overlap pairs (near-supersets and quote-heavy copies that fuzzy
    Jaccard misses because the containing doc's extra text dilutes the
    union).

    Composition of verified pieces: ``verbatim_overlap_pairs`` (winnowed
    candidates + exact diagonal fold) → per-victim max over its pairs
    (one pair-bounded aggregation) → broadcast-scale join to per-doc
    token counts.  Keep-lowest-id convention: only the ``b`` side of an
    (a < b) pair can be flagged, so at least one representative of every
    duplicate family always survives.  The threshold compares as pure
    integers (overlap·den ≥ num·n_tokens) — no float boundary to
    disagree with the oracle about."""
    pairs = verbatim_overlap_pairs(
        df, id_col, text_col, k=k, min_tokens=min_tokens,
        max_bucket=max_bucket, cache_registry=cache_registry,
    )
    worst = pairs.groupBy(F.col("b").alias("id")).agg(
        F.max("overlap_tokens").cast("long").alias("max_overlap")
    )
    ntok = bound_tokens(df, id_col, text_col).select(
        "id", F.size("__tk").cast("long").alias("n_tokens")
    )
    return (
        worst.join(ntok, "id")
        .where(
            F.col("max_overlap") * threshold_den
            >= F.lit(threshold_num) * F.col("n_tokens")
        )
        .select(
            "id",
            "n_tokens",
            "max_overlap",
            F.round(
                F.col("max_overlap") / F.col("n_tokens").cast("double"), 6
            ).alias("frac"),
        )
    )
