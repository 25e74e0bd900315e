"""Deduplication operators for LLM-data pipelines (north-star NEW ops).

Five families, all DataFrame-native:

- exact:      hash-groupBy on a 128-bit content fingerprint
- MinHash+LSH: shingle -> minhash signature -> banded bucket join ->
               exact-Jaccard verify (the classic near-dup pipeline)
- SimHash:    60-bit sign-aggregated token-hash signature
- n-gram Jaccard: exact set similarity over token n-grams
- embedding:  cosine-threshold near-dup pairs (see similarity.py)

Scale design (100 TB): every candidate-generation step shuffles only
(id, small-fixed-width signature) pairs — never document bodies. The
exact-verify join re-attaches token sets for survivors of a two-stage
candidate funnel (banded LSH, then a signature-agreement prefilter), so
the wide join touches a tiny fraction of the n² pair space even on
pathologically self-similar corpora. Banding parameters (b bands of r
rows) tune the recall/cost curve: P(candidate) = 1-(1-s^r)^b; the
defaults (32 bands of 4) keep miss probability under 5e-8 at s=0.8 and
under 1e-14 at s=0.9, so the funnel is effectively recall-1 above the
verify threshold and the final output equals the brute-force answer —
which is exactly what the DuckDB oracle computes.

MinHash uses a seeded family of Spark's xxhash64 (JVM, engine-specific):
fine because the *output* of the pipeline is exact-verified pairs, so
signatures never leak into results. SimHash signatures DO surface, so
they use the md5-based portable 60-bit hash from functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import distinct_tokens, token_hash60



def content_fingerprint(col) -> Column:
    """Exact-dedup key: md5 of the raw text (portable across engines)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Survivors of exact dedup: lowest id per fingerprint wins.

    One shuffle on the 16-byte fingerprint; at 100 TB group on the
    fingerprint only (never the body) and keep min(id) — this is that.
    """
    return (
        df.select(content_fingerprint(text_col).alias("_fp"), id_col)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("_fp")
    )


def token_ngrams_of(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a PREPARED tokens column.

    ``toks`` must be a cheap reference (a staged attribute), not an
    inline ``split(...)`` expression: anything inlined into the
    transform lambda below is re-evaluated PER ELEMENT by Spark's
    interpreted higher-order-function path — an inline split costs
    O(n_grams) tokenizations per document (round 12, guide §7.2/§4;
    measured 2.4x on the window stage of span dedup)."""
    if n == 1:
        return F.array_distinct(toks)
    count = F.size(toks) - (n - 1)
    # guard: sequence(1, 0) would produce a DESCENDING [1, 0] in Spark
    return F.when(count < 1, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


def token_ngrams(col, n: int) -> Column:
    """Distinct word n-gram shingles; n=1 -> distinct tokens.

    SQL twin (DuckDB): list comprehension over token positions.
    For n > 1 prefer staging the tokens as a column and calling
    ``token_ngrams_of`` — see its docstring for why."""
    if n == 1:
        return distinct_tokens(col)
    toks = F.split(F.trim(F.col(col) if isinstance(col, str) else col), r"\s+")
    return token_ngrams_of(toks, n)


def hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(id, _sh) projection: the document's distinct token n-grams
    hashed to sorted 64-bit longs — the one tokenization every minhash
    funnel stage reuses. For n > 1 the tokens are STAGED as a column
    before the n-gram transform (``token_ngrams_of``'s contract): an
    inline split in the transform lambda is re-evaluated per gram by
    the interpreted HOF path (guide §7.2/§4, round 12)."""
    if ngram == 1:
        grams = token_ngrams(text_col, 1)
        base = df
    else:
        base = df.select(
            F.col(id_col),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_tk"),
        )
        grams = token_ngrams_of(F.col("_tk"), ngram)
    return base.select(
        F.col(id_col),
        F.array_sort(
            F.transform(grams, lambda s: F.xxhash64(s))
        ).alias("_sh"),
    )


def jaccard(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| over distinct-element arrays — one double div."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


def _sql_ident(name: str) -> str:
    """Backquoted SQL identifier for a column name. The wide signature
    expressions below are written as SQL text and parsed by one
    ``F.expr`` call: built from ``Column`` calls, each of their hundreds
    of nodes is a py4j round trip, about a second of driver time per
    signature (measured: ``minhash_signature`` at 128 hashes, 1.1 s as
    ``Column`` calls, 1 ms as text). The parsed tree is the same but
    for lambda-variable names."""
    return "`" + name.replace("`", "``") + "`"


def minhash_signature(
    shingles: str, num_hashes: int = 128, seed: int = 42
) -> Column:
    """num_hashes-wide minhash of the shingle-array column ``shingles``
    (a column name), fully JVM-side.

    Hash family h_i(x) = xxhash64(seed*1e6 + i, x): xxhash64 with a
    distinct literal first argument is an independent 64-bit hash per i
    (the seed column perturbs the full avalanche). One expression —
    array of array_min over transforms — no UDF, no shuffle. Signatures
    are engine-internal (candidates are exact-verified afterwards), so
    JVM-specific hashing is fine; only 1 cheap hash per (i, shingle)
    instead of a portable modular-permutation family, which keeps
    codegen small and the projection ~15x cheaper. Built as SQL text
    (see ``_sql_ident``).
    """
    sh = _sql_ident(shingles)
    return F.expr(
        "array("
        + ", ".join(
            f"array_min(transform({sh}, s -> xxhash64({seed * 1_000_000 + i}, s)))"
            for i in range(num_hashes)
        )
        + ")"
    )


def lsh_bands(sig: Column, bands: int, rows: int) -> Column:
    """Signature -> array of (band_id, band_hash) structs for bucketing."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(F.concat_ws("_", b, F.slice(sig, b * rows + 1, rows)))
            .alias("bucket"),
        ),
    )


def _pack_low2(sig: str, num_hashes: int) -> Column:
    """array<long>[num_hashes] column ``sig`` (a column name) ->
    array<long>[num_hashes/32]: the low 2 bits of each component,
    packed 32 lanes per long, as SQL text (see ``_sql_ident``)."""
    s = _sql_ident(sig)
    longs = []
    for k in range(num_hashes // 32):
        v = f"(element_at({s}, {k * 32 + 1}) & 3)"
        for j in range(1, 32):
            v = f"({v} | shiftleft(element_at({s}, {k * 32 + j + 1}) & 3, {2 * j}))"
        longs.append(v)
    return F.expr(f"array({', '.join(longs)})")


def _lane2_disagreements(
    n_longs: int, a_col: str = "_sig_a", b_col: str = "_sig_b"
) -> Column:
    """Count 2-bit lanes that differ between the packed signatures in
    columns ``a_col`` / ``b_col``: per long XOR, OR the lane's two
    bits together (masked shift), popcount. ~5 integer ops per long —
    small enough that the whole predicate stays one codegen expression
    (a wider per-byte SWAR tree measurably blew janino's method limits
    and dropped the stage to interpreted mode; Catalyst's
    CollapseProject re-inlines any attempt to stage intermediates
    through projections, so the fix is a smaller tree, not staging)."""
    total = None
    for k in range(n_longs):
        x = F.element_at(F.col(a_col), k + 1).bitwiseXOR(
            F.element_at(F.col(b_col), k + 1)
        )
        y = x.bitwiseOR(F.shiftrightunsigned(x, 1)).bitwiseAND(
            F.lit(0x5555555555555555)
        )
        d = F.bit_count(y)
        total = d if total is None else total + d
    return total


def _size_ratio_ok(n_a: str, n_b: str, threshold: float) -> Column:
    """EXACT set-size prefilter for a Jaccard threshold (round 12,
    guide §3.2-class pre-join pruning): J(A, B) <= min(|A|,|B|) /
    max(|A|,|B|), so a pair whose size ratio falls below the threshold
    can never verify — dropping it inside the bucket join is free
    recall-wise (a NECESSARY condition, like a Bloom filter's no-false-
    negative guarantee) and removes the candidate before the distinct
    shuffle and the array-intersect verify (measured at sf0.1:
    4.15M -> 2.58M candidates, verify 5.3s -> 2.1s, verified pair set
    identical). The comparison is the same double-division-vs-literal
    form the verify uses, so the boundary case (ratio exactly at the
    threshold, reachable when one set contains the other) rounds
    identically and can never drop a pair the verify would keep. NULL
    sizes (mixed-era banded rows without the column) pass — the filter
    only ever prunes when it can prove."""
    ratio = F.least(F.col(n_a), F.col(n_b)).cast("double") / F.greatest(
        F.col(n_a), F.col(n_b)
    )
    return F.coalesce(ratio >= F.lit(float(threshold)), F.lit(True))


def _dedupe_bucket_sets(banded: DataFrame, id_col: str) -> DataFrame:
    """Collapse (band, bucket) groups with IDENTICAL member sets to one
    representative group.

    On a self-similar corpus the same near-dup cluster collides in
    every band, so the same m²/2 join pairs regenerate once per band
    (observed locally: a 2.3k-member cluster × 25 bands = 55M of 63M
    joined rows were repeats). Identical member set ⇒ identical pair
    set, and candidates are distinct-ed downstream, so dropping the
    repeats cannot change the output. Membership fingerprint: two
    independent commutative (XOR) 64-bit hashes of the ids plus the
    member count — order-independent, never collects members, and the
    collision class (~2⁻¹²⁸) is the same one content-hash exact dedup
    already accepts. Cost: two small aggregates + a semi join on rows
    of (band, bucket) — no-op overhead on healthy corpora where every
    bucket is unique.
    """
    groups = banded.groupBy("band", "bucket").agg(
        F.bit_xor(F.xxhash64(F.lit(1), F.col(id_col))).alias("_h1"),
        F.bit_xor(F.xxhash64(F.lit(2), F.col(id_col))).alias("_h2"),
        F.count("*").alias("_m"),
    )
    reps = (
        groups.groupBy("_h1", "_h2", "_m")
        .agg(F.min(F.struct("band", "bucket")).alias("_rep"))
        .select(
            F.col("_rep.band").alias("band"), F.col("_rep.bucket").alias("bucket")
        )
    )
    return banded.join(reps, ["band", "bucket"], "left_semi")


def _bucket_join_pairs(
    banded: DataFrame,
    id_col: str,
    pair_filter=None,
    carry: tuple[str, ...] = (),
    bucket_cap: int = 8192,
    eager: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from per-band bucket
    membership rows ``(id, band, bucket, *carry)``.

    ``pair_filter``, if given, is a callable ``(suffix_a, suffix_b) ->
    Column`` building a predicate over the carried columns (exposed as
    ``{col}_a`` / ``{col}_b``); it is evaluated INSIDE the bucket
    self-join, so implausible pairs are dropped before they ever hit
    the distinct shuffle. Measured at sf0.1 this cuts the distinct
    input ~30% and removes the downstream prefilter join entirely
    (12.2s → ~9s for the minhash funnel).

    Degenerate buckets (> ``bucket_cap`` members) are split into salted
    sub-blocks so one giant bucket cannot serialize into a single
    straggler task: each member of an oversized bucket gets a salt
    s = hash(id) mod g with g = ceil(m / cap); the right side keeps its
    salt, the left side replicates to every salt, the join key becomes
    (band, bucket, salt), and every unordered pair is still found
    exactly once per band. The split is size-gated (plain self-join is
    measurably faster when every bucket fits a task) by ONE bucket-size
    aggregate reused by both the gate and the salted path.

    NOTE (eager): with ``eager=True`` (default) this operator runs two
    driver actions at plan-build time — the size gate, and a
    ``localCheckpoint(eager=True)`` that materializes the candidate
    pairs. The checkpoint cuts lineage (the banding/minhash upstream is
    never recomputed by downstream joins) and lets the internal
    persists be released deterministically in a ``finally`` instead of
    accumulating MEMORY_AND_DISK blocks across repeated dedup calls in
    one session. ``eager=False`` builds a fully lazy plan for callers
    that compose without executing: the size gate is skipped (the
    salted path runs unconditionally — correct for any bucket profile,
    marginally slower when every bucket is small) and cache release is
    left to Spark's ContextCleaner.
    """
    from pyspark import StorageLevel

    if not eager:
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("_m"))
        return _salted_pairs_plan(
            banded, sizes, id_col, pair_filter, carry, bucket_cap
        ).distinct()

    # the persists pin small (id, band, bucket, carry) projections —
    # linear in corpus size, never signatures or bodies. Without them
    # the sizes/left/right branches would each recompute the full
    # upstream (tokenize + 128-way minhash + banding).
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("_m"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        big_keys = sizes.filter(F.col("_m") > bucket_cap)
        if big_keys.limit(1).count() == 0:  # eager size gate (see NOTE)
            out = _join_pairs(
                _side_cols(banded, "_a", id_col, carry, None),
                _side_cols(banded, "_b", id_col, carry, None),
                False,
                pair_filter,
            )
        else:
            out = _salted_pairs_plan(
                banded, sizes, id_col, pair_filter, carry, bucket_cap
            )
        return out.distinct().localCheckpoint(eager=True)
    finally:
        banded.unpersist()
        sizes.unpersist()


def _side_cols(
    df: DataFrame,
    suffix: str,
    id_col: str,
    carry: tuple[str, ...],
    salt: Column | None,
) -> DataFrame:
    cols = [
        F.col(id_col).alias(f"_id{suffix}"),
        F.col("band").alias(f"_band{suffix}"),
        F.col("bucket").alias(f"_bucket{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in carry],
    ]
    if salt is not None:
        cols.append(salt.alias(f"_s{suffix}"))
    return df.select(*cols)


def _join_pairs(
    left: DataFrame, right: DataFrame, salted: bool, pair_filter
) -> DataFrame:
    cond = (
        (F.col("_band_a") == F.col("_band_b"))
        & (F.col("_bucket_a") == F.col("_bucket_b"))
        & (F.col("_id_a") < F.col("_id_b"))
    )
    if salted:
        cond = cond & (F.col("_s_a") == F.col("_s_b"))
    if pair_filter is not None:
        cond = cond & pair_filter("_a", "_b")
    return left.join(right, cond).select(
        F.col("_id_a").alias("id_a"), F.col("_id_b").alias("id_b")
    )


def _salted_pairs_plan(
    banded: DataFrame,
    sizes: DataFrame,
    id_col: str,
    pair_filter,
    carry: tuple[str, ...],
    bucket_cap: int,
) -> DataFrame:
    """Candidate-pair plan with degenerate buckets split into salted
    sub-blocks (lazy — no driver actions). Correct for any bucket
    profile: when no bucket exceeds the cap, the big slice is empty and
    the plan degrades to the plain self-join of the small slice."""
    keys = sizes.filter(F.col("_m") > bucket_cap).select("band", "bucket")
    small = banded.join(keys, ["band", "bucket"], "left_anti")
    # identical-member-set collapse only on the oversized slice,
    # where a repeated giant bucket would otherwise multiply
    # m²/2 join rows per band; small-bucket repeats are absorbed
    # by the final distinct
    big = _dedupe_bucket_sets(
        banded.join(keys, ["band", "bucket"], "left_semi"), id_col
    )
    withg = big.join(sizes, ["band", "bucket"]).withColumn(
        "_g",
        F.greatest(F.lit(1), F.ceil(F.col("_m") / bucket_cap)).cast("int"),
    )
    # left replicates to every salt; right keeps its own salt —
    # replication adds ~m²/cap rows of ids+carry, never bodies
    left = _side_cols(
        withg, "_a", id_col, carry,
        F.explode(F.sequence(F.lit(0), F.col("_g") - 1)),
    )
    right = _side_cols(
        withg, "_b", id_col, carry,
        F.pmod(F.xxhash64(F.col(id_col)), F.col("_g")).cast("int"),
    )
    return _join_pairs(
        _side_cols(small, "_a", id_col, carry, None),
        _side_cols(small, "_b", id_col, carry, None),
        False,
        pair_filter,
    ).union(_join_pairs(left, right, True, pair_filter))


def _salted_bucket_pairs(
    banded: DataFrame, id_col: str, bucket_cap: int = 8192
) -> DataFrame:
    """Distinct candidate pairs from (id, band, bucket) membership rows
    with degenerate-bucket salting — see ``_bucket_join_pairs``."""
    return _bucket_join_pairs(banded, id_col, bucket_cap=bucket_cap)


def adaptive_band_rows(
    threshold: float, num_hashes: int, max_miss: float = 1e-7
) -> int:
    """Rows-per-band maximizing pruning subject to a recall floor.

    A true pair at similarity ``threshold`` is missed with probability
    (1 - t^r)^b where b = num_hashes // r; larger r fires far less on
    mid-similarity pairs (band match rate s^r) but raises the miss
    rate at t. Pick the largest r keeping the miss under ``max_miss`` —
    t=0.9 -> r=5 (miss 2e-10), t=0.8 -> r=4 (miss 5e-8).
    """
    best = 1
    for r in range(1, 9):
        b = num_hashes // r
        if b < 1:
            break
        if (1.0 - threshold**r) ** b <= max_miss:
            best = r
    return best


def minimal_bands(
    threshold: float, rows: int, num_hashes: int, max_miss: float = 1e-7
) -> int:
    """Fewest bands keeping the miss probability at ``threshold`` under
    ``max_miss``: using all num_hashes // rows bands overshoots the
    recall floor and multiplies candidate duplication — a true pair at
    J ~= 1 matches EVERY band, so each extra band re-emits every dense-
    cluster pair into the distinct. (t=0.9, r=5: 19 bands give miss
    4.6e-8; the full 25 would give 2e-10 at ~30% more bucket products.)
    """
    import math

    per_band_miss = 1.0 - threshold**rows
    if per_band_miss <= 0.0:
        return 1
    need = math.ceil(math.log(max_miss) / math.log(per_band_miss))
    return max(1, min(num_hashes // rows, need))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    ngram: int = 1,
    num_hashes: int = 128,
    bands: int | None = None,
    seed: int = 42,
    eager: bool = True,
) -> DataFrame:
    """Near-duplicate pairs with exact Jaccard ≥ threshold.

    Three-stage funnel, each stage cheaper per row than the next is
    wide:

    1. banded LSH candidates — band geometry adapts to the threshold
       (``adaptive_band_rows``): rows-per-band is pushed as high as a
       1e-7 recall floor allows, so mid-similarity pairs generate far
       fewer candidates while the stage stays recall-~1 at the
       threshold. The bucket self-join runs through
       ``_bucket_join_pairs``, which splits degenerate buckets into
       salted sub-blocks so one giant bucket cannot serialize into a
       single straggler task;
    2. signature prefilter — evaluated INSIDE the bucket self-join (the
       banded rows carry the 32-byte packed signature), so implausible
       pairs never reach the candidate distinct and no separate
       prefilter join exists. The fraction of agreeing minhash
       components estimates Jaccard; keeping est above a 5-sigma
       margin under the threshold keeps the miss probability of a true
       at-threshold pair under ~3e-7 while dropping the bulk of
       mid-similarity candidates. The prefilter compares 2-bit
       TRUNCATIONS of the components bit-packed 32-per-long (32 bytes
       per side at n=128) and counts differing lanes with a handful of
       codegen integer ops per long. Truncation collisions can only
       RAISE the agreement estimate, so the compact prefilter is
       strictly safer for recall than full width;
    3. exact verify — token sets are attached for survivors only and
       the true Jaccard is computed, so the output equals the
       brute-force answer (what the DuckDB oracle computes).

    NOTE: with ``eager=True`` (default) the WHOLE funnel materializes
    at plan-BUILD time — calling this function runs Spark jobs (size
    gate + candidate checkpoint, see ``_bucket_join_pairs``, then the
    verified-pairs checkpoint) and the returned plan is a scan of the
    checkpointed (id_a, id_b, jaccard) rows, so downstream sorts,
    unions and repeated reads never re-run the funnel. Callers that
    compose plans without executing pass ``eager=False`` for a fully
    lazy plan (identical output; unconditional salted path, lineage
    uncut).

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # Shingles are hashed to 64-bit longs ONCE and every later stage
    # (minhash, prefilter, exact verify) works on the hashed sets: the
    # verify attach then ships fixed-width array<long> instead of string
    # arrays (7x faster measured at sf0.1) and set-Jaccard is preserved
    # exactly up to a 64-bit collision inside one pair's union
    # (~C(200,2)/2^64 ≈ 1e-15 per pair — the same collision class
    # content-hash exact dedup already accepts). The hashed projection
    # persists so tokenization runs once per doc (unpersisted in the
    # eager path once the verified checkpoint lands; left to Spark's
    # ContextCleaner under eager=False); the signature projection needs
    # no pin — it is consumed exactly once, inside the
    # eagerly-checkpointed candidate stage.
    from pyspark import StorageLevel

    if num_hashes % 32 != 0 or num_hashes <= 0:
        raise ValueError(
            "num_hashes must be a positive multiple of 32 (the packed "
            f"prefilter packs 32 2-bit lanes per long), got {num_hashes}"
        )
    shingled = hashed_shingles(df, id_col, text_col, ngram).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if bands is not None:
        rows = num_hashes // bands
    else:
        rows = adaptive_band_rows(threshold, num_hashes)
        bands = minimal_bands(threshold, rows, num_hashes)
    import math

    # 2-bit truncated signature components bit-packed into longs (32
    # lanes per long): a matching lane estimates p = s + (1-s)/4; the
    # keep rule below is the integer form of s_est >= threshold -
    # 5*sigma_s with sigma_s = (4/3)*sqrt(p(1-p)/n) at s = threshold.
    # The 5-sigma margin keeps the per-pair miss probability ~3e-7 —
    # near-dup-dense corpora put O(output) pairs within a sigma of the
    # threshold, so a looser 4-sigma margin would give an expected miss
    # count approaching 1 (not acceptable for an exact operator).
    p_t = (3.0 * threshold + 1.0) / 4.0
    margin_s = 5.0 * (4.0 / 3.0) * math.sqrt(p_t * (1.0 - p_t) / num_hashes)
    max_diff = int(num_hashes * 3.0 * (1.0 - threshold + margin_s) / 4.0)
    # _sig MUST be materialized as its own projection: inlining the
    # 128-wide minhash expression into _pack_low2's 128 element_at
    # calls plus 25 band slices would copy the signature subtree ~150x
    # (measured: 6.5s of plan analysis and an interpreted join stage).
    # CollapseProject keeps a multiply-referenced non-trivial alias as
    # a separate projection, so the signature is computed once per row.
    sigs = shingled.select(
        F.col(id_col),
        F.size("_sh").alias("_n"),
        minhash_signature("_sh", num_hashes, seed).alias("_sig"),
    )
    banded = sigs.select(
        F.col(id_col),
        F.col("_n"),
        _pack_low2("_sig", num_hashes).alias("_psig"),
        F.explode(lsh_bands(F.col("_sig"), bands, rows)).alias("bb"),
    ).select(id_col, "_psig", "_n", "bb.band", "bb.bucket")
    plausible = _bucket_join_pairs(
        banded,
        id_col,
        pair_filter=lambda sa, sb: (
            _lane2_disagreements(
                num_hashes // 32, f"_psig{sa}", f"_psig{sb}"
            )
            <= max_diff
        )
        & _size_ratio_ok(f"_n{sa}", f"_n{sb}", threshold),
        carry=("_psig", "_n"),
        eager=eager,
    )
    a = shingled.select(
        F.col(id_col).alias("id_a"),
        F.col("_sh").alias("_sh_a"),
        F.size("_sh").alias("_n_a"),
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"),
        F.col("_sh").alias("_sh_b"),
        F.size("_sh").alias("_n_b"),
    )
    # |a ∪ b| = |a| + |b| - |a ∩ b|: one array_intersect per pair
    # instead of intersect + union — the sizes are precomputed ints
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    verified = (
        plausible.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double") / (F.col("_n_a") + F.col("_n_b") - inter)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if not eager:
        return verified
    # Checkpoint the VERIFIED pairs too, not just the candidates: the
    # verify join (pairs x persisted shingle arrays) is the funnel's
    # most expensive stage, and any downstream operator that executes
    # the plan twice — a global orderBy's range-partitioner sampling
    # pass, a self-union, a reused subplan — would otherwise pay it
    # per execution. Output is (long, long, double): ~20 bytes/pair of
    # checkpoint storage buys every re-read for free, and the shingle
    # persist can be released deterministically instead of waiting on
    # the ContextCleaner.
    try:
        return verified.localCheckpoint(eager=True)
    finally:
        shingled.unpersist()


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Portable 60-bit SimHash per document -> (id_col, simhash).

    bit_j(doc) = 1 iff sum over distinct tokens of ±1 (per bit j of the
    token's md5-derived 60-bit hash) is positive. Formulated as explode +
    hash-aggregate with 60 conditional-sum columns: whole-stage-codegen
    all the way (Spark's higher-order array functions run interpreted),
    and at scale the groupBy does map-side partial aggregation so the
    shuffle carries 60 longs per (doc × input partition), never tokens.
    SQL twin in plans/llm_queries.py (unnest + group-by formulation).
    """
    toks = df.select(
        F.col(id_col), F.explode(distinct_tokens(text_col)).alias("_t")
    ).select(id_col, token_hash60(F.col("_t")).alias("_h"))
    # SQL text, not Column calls (see _sql_ident)
    scores = toks.groupBy(id_col).agg(
        *[
            F.expr(f"sum(CASE WHEN getbit(_h, {j}) = 1 THEN 1 ELSE -1 END) AS _s{j}")
            for j in range(60)
        ]
    )
    sig = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"CASE WHEN _s{j} > 0 THEN CAST({1 << j} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
            for j in range(60)
        ]
    )
    return scores.select(F.col(id_col), F.expr(sig).alias("simhash"))


def hamming60(a: Column, b: Column) -> Column:
    """Hamming distance between two 60-bit signatures: popcount(a XOR b)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("long")


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6
) -> DataFrame:
    """SimHash near-dup pairs, EXACT at any ``max_hamming`` < 60.

    Pigeonhole: the 60-bit signature splits into ``max_hamming + 1``
    contiguous chunks, so any pair within the hamming budget leaves at
    least one chunk untouched and is found by the chunk-bucket equi-join;
    an exact popcount verify then filters candidates. (max_hamming=3 ⇒
    the classic 4×15-bit split.)"""
    n_chunks = max_hamming + 1
    if not 1 <= n_chunks <= 60:
        raise ValueError(f"max_hamming must be in [0, 59], got {max_hamming}")
    base, extra = divmod(60, n_chunks)
    widths = [base + 1 if c < extra else base for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    sigs = simhash_signatures(df, id_col, text_col).withColumnRenamed(
        "simhash", "_sig"
    )
    # Literal shift amounts per chunk: F.shiftright requires a Python int
    # (not a Column), so the structs are built in a Python loop — same
    # pattern as lsh_signature in operators/similarity.py.
    chunks = sigs.select(
        id_col,
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("_sig"), offsets[c])
                        .bitwiseAND(F.lit((1 << widths[c]) - 1))
                        .alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "_sig", "ch.chunk", "ch.val")
    # chunk buckets behave exactly like LSH bands: a giant near-dup
    # cluster shares chunk values, so route the self-join through the
    # salted-bucket splitter, then re-attach signatures for the verify
    cands = _salted_bucket_pairs(
        chunks.select(
            id_col, F.col("chunk").alias("band"), F.col("val").alias("bucket")
        ),
        id_col,
    )
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sig_b"))
    return (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            hamming60(F.col("_sig_a"), F.col("_sig_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def near_dup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    checkpoint_interval: int = 3,
    contract: bool = True,
    driver_finish_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph -> (doc_id,
    cluster_id), cluster_id = min doc_id reachable. The step LLM
    pipelines run after pair generation: keep one document per cluster.

    Min-label propagation with pointer jumping: each iteration takes the
    min of a node's label and its neighbors' labels, then shortcuts to
    the label's own label (label-of-label), which halves chain length
    per round — O(log diameter) convergence, so ``max_iterations=20``
    covers graphs of diameter ~2^20 (long similarity chains included).
    Each round is one shuffle of (node, label) pairs; the pair graph
    itself is never materialized beyond its two-column form. AQE handles
    the skewed giant-cluster joins.

    Driver round-trips are batched: ``checkpoint_interval`` propagation
    rounds build lazily, then one eager ``localCheckpoint`` materializes
    them and one comparison against the labels at the previous
    checkpoint decides convergence. That comparison is sound because
    per-node labels are monotone non-increasing: if the labels after k
    rounds equal the labels before them, no intermediate round changed
    anything either, so the fixed point is reached. The edge list is
    checkpointed once up front so the (possibly expensive) upstream
    pair plan is evaluated exactly once, not once per action.

    Raises ``RuntimeError`` if the loop exits without converging rather
    than silently returning partial labels.

    ``contract=True`` (default) runs a star-contraction pre-pass before
    iterating: every node is contracted into m(v) = min(v, N(v)).
    Contracting a node into an adjacent node preserves connected
    components, and near-dup graphs are dominated by dense near-cliques
    (every member adjacent to the cluster min), so one pass typically
    collapses a cluster's m²/2 edges to zero and the propagation loop
    runs on the small residual graph instead of the full edge list —
    measured 14.4s -> ~4s on the sf0.1 self-similar corpus. The final
    label of v is the residual component label of m(v) (the component
    min is always its own representative: it has no smaller neighbor,
    so m(min) = min). Identical output with the flag off; the pre-pass
    is two aggregates + a relabel join over the edge list, all linear.

    When the (post-contraction) edge list fits
    ``driver_finish_max_edges``, the components are finished exactly
    with a driver-side union-find instead of iterated Spark rounds —
    the two-level design standard for distributed CC (contract until
    small, finish centrally): a propagation round over a tiny residual
    graph costs fixed scheduler overhead per shuffle stage, several
    times the actual work. The gate is a size check on an
    already-materialized checkpoint (16 bytes/edge collected; the
    default admits ~16 MB), so at 100 TB a still-large residual keeps
    the fully distributed loop. ``driver_finish_max_edges=0`` disables
    the central finish.

    Deterministic output; isolated docs (no pairs) are absent — union
    the corpus back with cluster_id = doc_id for a full assignment.
    """
    if checkpoint_interval < 1:
        raise ValueError(f"checkpoint_interval must be >= 1, got {checkpoint_interval}")
    # Checkpoint the pair plan BEFORE symmetrizing: the union's two
    # branches would otherwise each re-execute the (possibly expensive)
    # upstream — for the minhash funnel that is the exact-verify join,
    # measured at 2x ~2.3s on the sf0.1 corpus.
    base = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    # RAW-pairs central-finish gate (round 12): far STRICTER than
    # driver_finish_max_edges. Contraction exists to shrink a too-big
    # edge list, so on a SMALL graph the pre-pass is three
    # driver-blocking jobs (two aggregates + a relabel join, each
    # checkpointed) of pure overhead and union-finding the raw pairs
    # directly wins (~1-2 s of job latency saved). But the crossover is
    # low: a driver union-find is interpreted Python (dict find/union
    # per edge), so at the residual gate's 1M-edge cap it costs seconds
    # — slower than the distributed contraction it skips (measured:
    # dedup_fuzzy_clusters at sf0.1, 965k raw pairs, +3.7 s through the
    # shortcut vs the contracted path). 64k edges keeps the driver work
    # in the tens of milliseconds while covering the
    # every-job-counts small-graph case. Identical output either way:
    # lo-root union-find keeps every component's root at its min id,
    # the same resolution the contracted path produces (equivalence
    # pinned across all four paths by
    # test_near_dup_clusters_contraction_equivalence).
    raw_finish_cap = min(driver_finish_max_edges or 0, 65536)
    if raw_finish_cap and base.count() <= raw_finish_cap:
        rows = base.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = find(r["id_a"]), find(r["id_b"])
            if a != b:
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        nodes = {x for r in rows for x in (r["id_a"], r["id_b"])}
        from pyspark.sql import types as T

        id_type = base.schema["id_a"].dataType
        out_schema = T.StructType(
            [
                T.StructField("doc_id", id_type, False),
                T.StructField("cluster_id", id_type, False),
            ]
        )
        return pairs.sparkSession.createDataFrame(
            [(v, find(v)) for v in sorted(nodes)], out_schema
        )
    sym = base.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(base.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    contraction = None
    if contract:
        # m(v) = min(v, min neighbor): sym carries both directions, so
        # the per-src min over dst is the min neighbor. Duplicate input
        # pairs cannot change a min-aggregate, so sym needs no distinct
        # here; the residual relabel runs its own.
        contraction = (
            sym.groupBy("src")
            .agg(F.least(F.col("src"), F.min("dst")).alias("_m"))
            .localCheckpoint(eager=True)
        )
        ma = contraction.select(
            F.col("src").alias("_va"), F.col("_m").alias("_ma")
        )
        mb = contraction.select(
            F.col("src").alias("_vb"), F.col("_m").alias("_mb")
        )
        edges = (
            sym.join(ma, sym.src == ma._va)
            .join(mb, sym.dst == mb._vb)
            .select(F.col("_ma").alias("src"), F.col("_mb").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        edges = sym.distinct().localCheckpoint(eager=True)

    def _finish(labels: DataFrame) -> DataFrame:
        if contraction is None:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
        # v's component label = residual label of its representative
        # m(v); a representative whose whole cluster collapsed has no
        # residual edges (absent from labels) and IS the cluster min.
        return contraction.join(
            labels, contraction._m == labels.node, "left"
        ).select(
            F.col("src").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("_m")).alias("cluster_id"),
        )

    if (
        driver_finish_max_edges
        and edges.count() <= driver_finish_max_edges
    ):
        # central finish on the (small, already-checkpointed) residual
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = find(r["src"]), find(r["dst"])
            if a != b:
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        nodes = {x for r in rows for x in (r["src"], r["dst"])}
        from pyspark.sql import types as T

        id_type = edges.schema["src"].dataType
        out_schema = T.StructType(
            [
                T.StructField("node", id_type, False),
                T.StructField("label", id_type, False),
            ]
        )
        labels = pairs.sparkSession.createDataFrame(
            [(v, find(v)) for v in sorted(nodes)], out_schema
        )
        return _finish(labels)

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    def _round(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges.dst == lbl.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = lbl.join(
            neighbor_min, lbl.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: adopt the current label of one's label
        lab2 = new_labels.select(
            F.col("node").alias("_jn"), F.col("label").alias("_jl")
        )
        return new_labels.join(
            lab2, new_labels.label == lab2._jn, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("_jl"), F.col("label"))
            ).alias("label"),
        )

    def _changed(new: DataFrame, old: DataFrame) -> int:
        return (
            new.alias("n")
            .join(old.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )

    converged = False
    rounds_done = 0
    while rounds_done < max_iterations and not converged:
        base = labels
        steps = min(checkpoint_interval, max_iterations - rounds_done)
        for _ in range(steps):
            labels = _round(labels)
        rounds_done += steps
        labels = labels.localCheckpoint(eager=True)  # cut the interval's lineage
        if _changed(labels, base) == 0:
            converged = True
    if not converged:
        # The budget may have been exhausted with the fixed point
        # reached mid-interval (the interval-level check compares only
        # against the interval's base, so it cannot see a late no-op
        # round). One certification round settles it: labels unchanged
        # => fixed point => converged, exactly the guarantee the old
        # per-round check gave.
        cert = _round(labels).localCheckpoint(eager=True)
        if _changed(cert, labels) == 0:
            converged = True
            labels = cert
    if not converged:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iterations} iterations"
        )
    return _finish(labels)


def fuzzy_dedup_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    ngram: int = 1,
    num_hashes: int = 128,
) -> DataFrame:
    """End-to-end fuzzy dedup: pairs -> clusters -> min-id survivor per
    cluster, plus every unpaired document. The output is the kept
    corpus."""
    pairs = minhash_near_dup_pairs(
        df, id_col, text_col, threshold, ngram, num_hashes=num_hashes
    )
    clusters = near_dup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Incremental dedup: new arrivals vs a persisted corpus index.
#
# The standard production shape at 100 TB: the corpus is tokenized,
# minhashed, and banded ONCE (build_minhash_index persists the banded
# bucket membership + hashed shingle sets); each ingest batch then
# probes that index (incremental_near_dup_pairs) instead of re-running
# the full self-join funnel. Probe cost is O(|batch| x bands) emitted
# rows joined against the index — the corpus is never re-tokenized and
# never paired against itself again.
# ---------------------------------------------------------------------------


def _minhash_geometry(
    threshold: float, num_hashes: int, bands: int | None
) -> tuple[int, int, int]:
    """(rows, bands, max_diff) for the banded funnel + packed prefilter —
    the same derivation minhash_near_dup_pairs uses (see its docstring
    for the recall math)."""
    import math

    if num_hashes % 32 != 0 or num_hashes <= 0:
        raise ValueError(
            "num_hashes must be a positive multiple of 32, got "
            f"{num_hashes}"
        )
    if bands is not None:
        rows = num_hashes // bands
    else:
        rows = adaptive_band_rows(threshold, num_hashes)
        bands = minimal_bands(threshold, rows, num_hashes)
    p_t = (3.0 * threshold + 1.0) / 4.0
    margin_s = 5.0 * (4.0 / 3.0) * math.sqrt(p_t * (1.0 - p_t) / num_hashes)
    max_diff = int(num_hashes * 3.0 * (1.0 - threshold + margin_s) / 4.0)
    return rows, bands, max_diff


def _minhash_projections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    num_hashes: int,
    seed: int,
    rows: int,
    bands: int,
    shingled: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(shingles, banded) projections shared by the symmetric funnel and
    the index build/probe: shingles = (id, _sh: array<long>) with the
    token n-grams hashed to 64-bit longs; banded = (id, _psig, _n,
    band, bucket) with the packed 2-bit prefilter signature AND the
    shingle-set size (the ``_size_ratio_ok`` prefilter's input, round
    12) carried on every membership row. Pass a prepared ``shingled``
    (checkpointed or read back from disk) to derive the banding from it
    instead of re-tokenizing ``df``."""
    if shingled is None:
        shingled = hashed_shingles(df, id_col, text_col, ngram)
    sigs = shingled.select(
        F.col(id_col),
        F.size("_sh").alias("_n"),
        minhash_signature("_sh", num_hashes, seed).alias("_sig"),
    )
    banded = sigs.select(
        F.col(id_col),
        F.col("_n"),
        _pack_low2("_sig", num_hashes).alias("_psig"),
        F.explode(lsh_bands(F.col("_sig"), bands, rows)).alias("bb"),
    ).select(id_col, "_psig", "_n", "bb.band", "bb.bucket")
    return shingled, banded


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    threshold: float = 0.9,
    ngram: int = 1,
    num_hashes: int = 128,
    bands: int | None = None,
    seed: int = 42,
    bucket_cap: int = 8192,
) -> dict:
    """Persist the probe-side state of MinHash-LSH dedup for a corpus.

    Layout under ``index_path``:

    - ``banded/``     (id, _psig, band, bucket) — one row per banded
      bucket membership; fixed-width columns only, never bodies.
    - ``shingles/``   (id, _sh: array<long>) — hashed token n-gram sets
      for the exact-verify stage.
    - ``bigbuckets/`` (band, bucket, _g) — buckets whose member count
      exceeds ``bucket_cap``, with their salt fan-out g = ceil(m/cap).
      Computed once at build time so probes pay no size aggregate.
    - ``meta.json``   geometry + seed, written ATOMICALLY LAST (tmp +
      rename) — its presence marks a complete index.

    The probe join binds on (band, bucket), so at warehouse scale the
    ``banded/`` table is the natural candidate for a bucketed
    (``bucketBy(n, "band", "bucket")``) layout, which removes the
    corpus-side shuffle from every probe; the parquet layout here keeps
    the index self-contained (no metastore) and the probe instead
    relies on the batch side being broadcast-small — see
    ``incremental_near_dup_pairs``.

    Returns the meta dict.
    """
    import json
    import os

    rows, bands, max_diff = _minhash_geometry(threshold, num_hashes, bands)
    shingled, _ = _minhash_projections(
        df, id_col, text_col, ngram, num_hashes, seed, rows, bands
    )
    shingled.write.mode("overwrite").parquet(os.path.join(index_path, "shingles"))
    spark = df.sparkSession
    # banding reads the WRITTEN shingles back, so the corpus is
    # tokenized exactly once across the whole build
    _, banded = _minhash_projections(
        df,
        id_col,
        text_col,
        ngram,
        num_hashes,
        seed,
        rows,
        bands,
        shingled=spark.read.parquet(os.path.join(index_path, "shingles")),
    )
    banded.write.mode("overwrite").parquet(os.path.join(index_path, "banded"))
    spark.read.parquet(os.path.join(index_path, "banded")).groupBy(
        "band", "bucket"
    ).agg(F.count("*").alias("_m")).filter(F.col("_m") > bucket_cap).select(
        "band",
        "bucket",
        F.greatest(F.lit(1), F.ceil(F.col("_m") / bucket_cap))
        .cast("int")
        .alias("_g"),
    ).write.mode("overwrite").parquet(os.path.join(index_path, "bigbuckets"))
    meta = {
        "id_col": id_col,
        "threshold": threshold,
        "ngram": ngram,
        "num_hashes": num_hashes,
        "bands": bands,
        "rows": rows,
        "max_diff": max_diff,
        "seed": seed,
        "bucket_cap": bucket_cap,
    }
    from .. import fsio

    fsio.atomic_write_text(
        os.path.join(index_path, "meta.json"), json.dumps(meta)
    )
    return meta


def minhash_index_meta(index_path: str) -> dict | None:
    """Meta of a COMPLETE index at ``index_path`` (None if absent)."""
    import json
    import os

    p = os.path.join(index_path, "meta.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def incremental_near_dup_pairs(
    spark,
    index_path: str,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs between NEW documents and an indexed corpus:
    exact Jaccard >= the index's threshold, as (corpus_id, new_id,
    jaccard).

    Asymmetric three-stage funnel against ``build_minhash_index``'s
    persisted state (geometry, seed, and prefilter margin come from the
    index's meta, so probe-side signatures are bucket-compatible by
    construction and the recall floor of the symmetric funnel carries
    over unchanged — each pair has one side in the corpus and one in
    the batch, banded identically):

    1. bucket join — the batch's (id, _psig, band, bucket) rows join
       the index's ``banded/`` table on (band, bucket). The batch side
       is ingest-batch-sized, so AQE broadcasts it and the corpus side
       streams through unshuffled. Buckets listed in ``bigbuckets/``
       (degenerate at build time) are salted: the corpus member keeps
       salt hash(id) mod g, the batch member replicates to all g salts
       — same guarantee as the symmetric salted split, every
       (corpus, new) pair still meets in exactly one salt per band.
    2. packed-signature prefilter, evaluated INSIDE the bucket join
       (meta's ``max_diff``), so implausible pairs never reach the
       candidate distinct.
    3. exact verify — hashed shingle sets are attached for survivors
       only (the corpus side from ``shingles/``, again with the
       candidate side broadcast-small) and true Jaccard is computed,
       so the output equals the brute-force batch-vs-corpus answer.

    The corpus is never re-tokenized, re-hashed, or self-joined; probe
    cost is one scan of ``banded/`` + one semi-join-shaped scan of
    ``shingles/`` per batch.

    ``exclude_epoch`` (streaming-hop indexes whose ``banded/`` and
    ``shingles/`` are partitioned by ``batch=N``) drops that epoch's
    rows from the probe via partition pruning. A replayed micro-batch
    MUST exclude its own epoch: its crashed attempt may have written
    the epoch's index rows, and probing against them would make every
    replayed doc a self-duplicate — silently emptying the epoch on
    replay instead of converging.
    """
    import os

    meta = minhash_index_meta(index_path)
    if meta is None:
        raise ValueError(f"no complete minhash index at {index_path}")

    def _read_side(sub: str) -> DataFrame:
        df = spark.read.parquet(os.path.join(index_path, sub))
        if exclude_epoch is not None:
            if "batch" not in df.columns:
                raise ValueError(
                    "exclude_epoch requires a batch=N-partitioned index "
                    f"(no 'batch' column under {sub}/)"
                )
            df = df.filter(F.col("batch") != exclude_epoch)
        return df
    n_longs = meta["num_hashes"] // 32
    cid = meta["id_col"]  # corpus-side column name, fixed at build time
    geo = (
        meta["ngram"],
        meta["num_hashes"],
        meta["seed"],
        meta["rows"],
        meta["bands"],
    )
    _shingled, _ = _minhash_projections(new_df, id_col, text_col, *geo)
    # eager checkpoint, not persist: the batch projections feed both
    # the banding and the verify stage, and inside a long-running
    # streaming hop a per-batch persist would accumulate cache blocks
    # until the ContextCleaner happens to run; the checkpoint is
    # batch-sized, tokenizes the batch exactly once, and is released
    # with the DataFrame.
    shingled_new = _shingled.localCheckpoint(eager=True)
    _, banded_new = _minhash_projections(
        new_df, id_col, text_col, *geo, shingled=shingled_new
    )
    big = F.broadcast(
        spark.read.parquet(os.path.join(index_path, "bigbuckets"))
    )
    corpus_banded = _read_side("banded")
    # indexes built before round 12 carry no `_n` column: the size
    # prefilter then reads NULL and passes (see _size_ratio_ok — it
    # only prunes when it can prove), so legacy indexes keep working
    # unpruned instead of wrongly or not at all
    has_sizes = "_n" in corpus_banded.columns
    corpus = (
        corpus_banded
        .join(big, ["band", "bucket"], "left")
        .select(
            F.col(cid).alias("_id_c"),
            F.col("_psig").alias("_psig_c"),
            (F.col("_n") if has_sizes else F.lit(None).cast("int")).alias(
                "_n_c"
            ),
            "band",
            "bucket",
            F.pmod(F.xxhash64(F.col(cid)), F.coalesce(F.col("_g"), F.lit(1)))
            .cast("int")
            .alias("_salt"),
        )
    )
    batch = (
        banded_new.join(big, ["band", "bucket"], "left")
        .select(
            F.col(id_col).alias("_id_n"),
            F.col("_psig").alias("_psig_n"),
            F.col("_n").alias("_n_n"),
            "band",
            "bucket",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("_g"), F.lit(1)) - 1)
            ).alias("_salt"),
        )
    )
    # EXPLICIT broadcast of the batch side: the checkpointed batch
    # projections surface as ExistingRDD scans with unknown stats, so
    # AQE cannot prove them small and would fall back to a sort-merge
    # join that SHUFFLES the corpus banded table — the exact cost this
    # operator exists to avoid. The hint keeps the corpus streaming
    # through unshuffled regardless of stats.
    candidates = (
        corpus.join(
            F.broadcast(batch),
            ["band", "bucket", "_salt"],
        )
        .filter(
            (
                _lane2_disagreements(n_longs, "_psig_c", "_psig_n")
                <= meta["max_diff"]
            )
            & _size_ratio_ok("_n_c", "_n_n", meta["threshold"])
        )
        .select("_id_c", "_id_n")
        .distinct()
    )
    corpus_sh = _read_side("shingles").select(
        F.col(cid).alias("_id_c"),
        F.col("_sh").alias("_sh_c"),
        F.size("_sh").alias("_n_c"),
    )
    batch_sh = shingled_new.select(
        F.col(id_col).alias("_id_n"),
        F.col("_sh").alias("_sh_n"),
        F.size("_sh").alias("_n_n"),
    )
    inter = F.size(F.array_intersect(F.col("_sh_c"), F.col("_sh_n")))
    return (
        candidates.join(corpus_sh, "_id_c")
        .join(F.broadcast(batch_sh), "_id_n")
        .select(
            F.col("_id_c").alias("corpus_id"),
            F.col("_id_n").alias("new_id"),
            (
                inter.cast("double") / (F.col("_n_c") + F.col("_n_n") - inter)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= meta["threshold"])
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 50,
) -> DataFrame:
    """Exact-substring dedup signal: per document, how much of it sits
    inside a ``window``-token span that appears VERBATIM in at least
    one other document. The span-level complement to n-gram Jaccard
    (which scores whole-document set overlap): it catches long shared
    boilerplate/quotations between otherwise-different documents, the
    signal used to strip verbatim-duplicated training text.

    Mechanics, all built-in expressions:

    1. every document emits one 64-bit hash per ``window``-token
       sliding window (position, hash) — the shuffle carries
       (hash, doc, position) longs, never text;
    2. hashes seen in >= 2 DISTINCT documents mark their windows
       duplicated (a hash repeating only within one document does not
       count — self-repetition is `text_repetition_ratios`' job);
    3. per document, duplicated window STARTS are merged into covered
       token intervals with a lag window (a start covers
       min(window, gap-to-previous-start) new tokens), giving the
       covered-token count without materializing intervals.

    Returns (id_col, n_tokens, dup_windows, covered_tokens,
    dup_fraction), one row per document (docs shorter than ``window``
    tokens have zero windows and fraction 0.0).

    64-bit window-hash collisions can only OVER-mark (~n_windows²/2⁶⁴
    across the corpus) — same accepted class as content-hash exact
    dedup.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    # Tokens are STAGED as a column before the window transform (round
    # 12, guide §7.2/§4): an expression inlined into a higher-order
    # lambda body is re-evaluated PER ELEMENT in Spark's interpreted
    # HOF path — the old shape re-split the document once per sliding
    # window (O(n_win) splits/doc; measured 2.4x on the window stage).
    # The staged attribute is evaluated once per row.
    toked = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_tk"),
    )
    tk = F.col("_tk")
    n_win = F.size(tk) - F.lit(window - 1)
    # guard: sequence(1, 0) would produce a DESCENDING [1, 0] in Spark
    # (same pitfall token_ngrams guards), and slice rejects start 0
    win_structs = F.when(
        n_win < 1, F.expr("array()").cast("array<struct<pos:int,h:bigint>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.struct(
                i.alias("pos"),
                F.xxhash64(
                    F.concat_ws("\x1f", F.slice(tk, i, window))
                ).alias("h"),
            ),
        )
    )
    wins = toked.select(
        F.col(id_col),
        F.size(tk).alias("_n_tokens"),
        F.explode(win_structs).alias("w"),
    ).select(id_col, "_n_tokens", "w.pos", "w.h")
    dup_h = (
        wins.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("h")
    )
    from pyspark.sql import Window as W

    marked = wins.join(dup_h, "h", "left_semi")
    lagw = W.partitionBy(id_col).orderBy("pos")
    covered = (
        marked.withColumn("_prev", F.lag("pos").over(lagw))
        .select(
            F.col(id_col),
            F.col("_n_tokens"),
            F.when(
                F.col("_prev").isNull(), F.lit(window)
            ).otherwise(
                F.least(F.lit(window), F.col("pos") - F.col("_prev"))
            ).alias("_cov"),
        )
        .groupBy(id_col, "_n_tokens")
        .agg(
            F.count("*").alias("dup_windows"),
            F.sum("_cov").alias("covered_tokens"),
        )
    )
    base = toked.select(F.col(id_col), F.size(tk).alias("n_tokens"))
    return base.join(
        covered.withColumnRenamed("_n_tokens", "n_tokens"),
        [id_col, "n_tokens"],
        "left",
    ).select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("dup_windows"), F.lit(0).cast("long")).alias(
            "dup_windows"
        ),
        F.coalesce(F.col("covered_tokens"), F.lit(0).cast("long")).alias(
            "covered_tokens"
        ),
        (
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1))
        ).alias("dup_fraction"),
    )
