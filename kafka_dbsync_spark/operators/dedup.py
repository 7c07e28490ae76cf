"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (it has no dedup — SURVEY.md §2.7), these
are the first-class 100 TB operators: exact dedup, normalized dedup,
MinHash+LSH near-dup detection, SimHash, and n-gram Jaccard verification.

Scale design:

- exact/normalized dedup = hash-groupBy: one shuffle on the digest, which
  is uniformly distributed ⇒ no skew; map-side partial aggregation
  applies.
- MinHash+LSH: signatures are computed per-row (narrow, codegen'd,
  md5-based so they're engine-reproducible); candidate generation is a
  self-equi-join on (band_index, band_value) — the classic trick that
  replaces the O(n²) pair space with buckets. At 100 TB the band join is
  the only shuffle and its key space is huge (hash values) ⇒ uniform.
- Jaccard verification runs only on LSH candidates (tiny fraction), not
  all pairs.
- SimHash: fully narrow — per-doc token-hash arrays with one counted
  array pass per bit; no explode, no shuffle.

No row-at-a-time Python UDFs anywhere — md5/array built-ins, plus one
vectorized Arrow pass (the setsim pair verifier, r13 opt).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_dbsync_spark.functions.text import normalize_text, tokens
from kafka_dbsync_spark.utils import ensure_parallelism

HEX_DIGITS = "0123456789abcdef"


def dedup_exact(
    df: DataFrame,
    on: Column | str,
    order_cols: Sequence[str],
    digest_col: str = "dedup_hash",
) -> DataFrame:
    """Keep the first row (by ``order_cols`` ascending) per digest of
    ``on``. The digest column is kept in the output for auditability.

    min_by aggregation rather than a ranking window: map-side partial
    aggregation collapses duplicates before the shuffle — at 100 TB a
    pathological duplicate cluster (the exact thing dedup exists for)
    would otherwise all hash to one window task."""
    on_col = F.col(on) if isinstance(on, str) else on
    out = df.withColumn(digest_col, F.md5(on_col))
    # NULL inputs digest to NULL — they are missing data, not duplicates
    # of each other. They still flow through the SAME single-pass
    # aggregation (a filter/union split would scan the upstream twice),
    # keyed by a DETERMINISTIC hash of the full row content — a
    # nondeterministic per-row id here could re-key rows between partial
    # and final aggregation on stage retry, duplicating or losing them.
    # Byte-identical NULL-content rows share a key, so their multiplicity
    # is restored afterwards from the group count.
    row = F.struct(*[F.col(c) for c in out.columns])
    group_key = F.coalesce(
        F.col(digest_col), F.concat(F.lit("\0null:"), F.md5(F.to_json(row)))
    )
    order = F.struct(*[F.col(c) for c in order_cols])
    grouped = out.groupBy(group_key.alias("__grp")).agg(
        F.min_by(row, order).alias("__row"), F.count(F.lit(1)).alias("__n")
    )
    copies = F.when(
        F.col("__grp").startswith("\0null:"), F.col("__n")
    ).otherwise(F.lit(1))
    return grouped.select(
        F.explode(F.sequence(F.lit(1), copies.cast("int"))).alias("__i"), "__row"
    ).select("__row.*")


def dedup_normalized(
    df: DataFrame, text_col: str, order_cols: Sequence[str]
) -> DataFrame:
    """Exact dedup after text normalization (lower/strip punctuation/
    collapse whitespace) — catches trivially-reformatted duplicates."""
    return dedup_exact(df, normalize_text(text_col), order_cols)


def streaming_dedup_exact(
    stream: DataFrame,
    on: Column | str,
    event_time_col: str | None = None,
    watermark: str = "1 hour",
    digest_col: str = "dedup_hash",
) -> DataFrame:
    """Cross-batch exact dedup on a streaming DataFrame.

    Spark's stateful ``dropDuplicates`` keeps one state entry per digest;
    with an event-time watermark the state is bounded (digests older than
    the watermark are evicted — duplicates farther apart than the
    watermark pass through, the standard streaming-dedup trade-off).
    Without ``event_time_col`` the state grows unboundedly: only for
    bounded/test streams.

    NULL content digests to NULL, and Spark's stateful dropDuplicates
    treats NULL keys as equal — which would silently collapse all
    null-content records into one. Matching batch ``dedup_exact``
    semantics (NULLs are missing data, not duplicates of each other),
    null-digest rows bypass the dedup state entirely and pass through
    unchanged."""
    on_col = F.col(on) if isinstance(on, str) else on
    out = stream.withColumn(digest_col, F.md5(on_col))
    nulls = out.filter(F.col(digest_col).isNull())
    nonnull = out.filter(F.col(digest_col).isNotNull())
    if event_time_col:
        # dedup on the digest ALONE within the watermark window —
        # including the event time in the key would only drop rows with
        # identical timestamps, i.e. not dedup content at all
        nonnull = nonnull.withWatermark(event_time_col, watermark)
        deduped = nonnull.dropDuplicatesWithinWatermark([digest_col])
    else:
        deduped = nonnull.dropDuplicates([digest_col])
    # the NULL branch is stateless — union after dedup so it never enters
    # (or grows) the dedup state store
    return deduped.unionByName(nulls)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def word_shingles(text_col: Column | str, k: int = 3) -> Column:
    """Word k-gram shingles of the normalized text; documents shorter than
    k tokens contribute their whole text as one shingle.

    PERFORMANCE NOTE: expressions inside a higher-order-function lambda
    re-evaluate their inputs per element (Spark does no common-
    subexpression elimination there), so the gram is built with ONE
    ``slice`` per element rather than k ``element_at`` lookups —
    measured 3x faster end-to-end on the shingle pipeline. Still only
    use this on an already-materialized token column via
    ``with_shingles`` for anything beyond tiny inputs.
    """
    toks = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(n >= k, grams).otherwise(F.array(F.array_join(toks, " ")))


def with_shingles(
    df: DataFrame, text_col: str, k: int = 3, out: str = "shingles"
) -> DataFrame:
    """Add a word-k-gram shingle column, materializing tokens in a
    separate projection so tokenization runs once per row (not once per
    shingle element — CollapseProject keeps multi-referenced non-cheap
    aliases in their own projection)."""
    d = ensure_parallelism(df).withColumn("__toks", tokens(text_col))
    return d.withColumn(out, word_shingles(F.col("__toks"), k)).drop("__toks")


def _digest_family(j: int):
    # NB: the lambdas here must be unary — pyspark treats a two-arg lambda
    # as an (element, index) transform lambda
    return lambda s: F.md5(F.concat(F.lit(f"{j}:"), s))


def _sub_family(off: int):
    return lambda h: F.substring(h, off * 8 + 1, 8)


def with_minhash_signatures(
    df: DataFrame, text_col: str, num_hashes: int = 8, k: int = 3
) -> DataFrame:
    """Add ``sig_0..sig_{n-1}`` MinHash signature columns over word
    k-gram shingles of ``text_col``.

    Hash family: each shingle is md5-hashed once per GROUP of 4 families
    (digest j = md5(f"{j}:{shingle}")), and family i = 8-hex-char slice
    ``[8*(i%4), 8*(i%4)+8)`` of digest i//4 — four independent 32-bit
    hashes per 128-bit digest, so the md5 work per shingle is num_hashes/4
    instead of num_hashes.  Deterministic and engine-portable (the DuckDB
    oracle reproduces it bit-for-bit with md5+substr).  Min is taken
    lexicographically over fixed-width lowercase hex = min over the
    32-bit integer hash.  32 bits keeps min-tie probability negligible
    (~n/2^32 per doc pair) while halving shuffle width vs full digests.

    The digest arrays are materialized in their own projections before
    the per-family min-fold — Spark does no CSE inside higher-order-
    function lambdas, so folding over the raw md5 expression would
    recompute every md5 once per family (the with_shingles trap).
    """
    d = with_shingles(df, text_col, k)
    n_digests = (num_hashes + 3) // 4
    for j in range(n_digests):
        d = d.withColumn(f"__h{j}", F.transform("shingles", _digest_family(j)))
    sigs = [
        F.array_min(F.transform(f"__h{i // 4}", _sub_family(i % 4))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return d.select(*df.columns, *sigs)


def lsh_bands(sig_cols: Sequence[str], rows_per_band: int = 2) -> Column:
    """Group signature columns into bands: array of band values (each the
    concat of ``rows_per_band`` signature entries)."""
    bands = []
    for b in range(0, len(sig_cols), rows_per_band):
        bands.append(F.concat(*[F.col(c) for c in sig_cols[b : b + rows_per_band]]))
    return F.array(*bands)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
    max_bucket_size: int = 32,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Returns distinct (id_a < id_b) pairs sharing ≥1 band.

    Skew bound: hash buckets are uniform for *distinct* content, but the
    dedup target input is duplicate-heavy — every copy of identical
    content lands in ONE bucket per band, so the hot-bucket size is
    unbounded by construction.  Pair generation is therefore hybrid:

    - buckets with ≤ ``max_bucket_size`` members expand all in-bucket
      pairs (complete pair info for downstream Jaccard verification);
    - larger buckets emit *star* pairs only — every member paired with
      the bucket's min id.  O(bucket) rows instead of O(bucket²), and no
      per-bucket array is ever materialized on the large path.  For
      connected-component dedup this loses nothing: all members stay
      transitively connected through the representative.

    Memory safety at 100 TB: everything after banding is ONE window pass
    over (band_idx, band_val) ORDER BY id — Spark's WindowExec buffers
    partitions in a spillable row array (disk-backed), so a 10M-member
    bucket is a slow task, not an OOM.  Each row sees only its ≤
    ``max_bucket_size`` *preceding* bucket members via a bounded window
    frame, so per-row state is capped by construction (no unbounded
    collect_list anywhere).  Small-bucket pairs and large-bucket star
    pairs are emitted from the same per-row CASE — a single consumer of
    the signature pipeline, so signatures are computed (and the band
    shuffle paid) exactly once; the earlier two-branch union evaluated
    the whole upstream twice because column pruning broke exchange reuse.
    """
    from pyspark.sql.window import Window

    sig_cols = [f"sig_{i}" for i in range(num_hashes)]
    sig = with_minhash_signatures(df, text_col, num_hashes, k).select(
        F.col(id_col), *sig_cols
    )
    banded = sig.select(
        id_col, F.posexplode(lsh_bands(sig_cols, rows_per_band)).alias("band_idx", "band_val")
    )
    return banded_pairs(banded, id_col, max_bucket_size)


def banded_pairs(
    banded: DataFrame,
    id_col: str,
    max_bucket_size: int = 32,
    carry_col: str | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs of ids sharing a (band_idx, band_val)
    bucket — the bounded hybrid emission shared by MinHash-LSH and
    SimHash banding (see minhash_lsh_candidates for the design notes:
    all pairs for buckets ≤ max_bucket_size, star pairs above, one
    spillable window pass, no unbounded arrays).

    ``carry_col``: a column CONSTANT within each bucket (e.g. a banding
    configuration tag when several band widths share one fused window
    pass — band_idx must then be unique per config); it rides through
    to the output and the distinct is per (carry, id_a, id_b)."""
    from pyspark.sql.window import Window

    ordered = Window.partitionBy("band_idx", "band_val").orderBy(id_col)
    full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    preceding = ordered.rowsBetween(-max_bucket_size, -1)
    carry = [F.col(carry_col)] if carry_col else []
    sized = banded.select(
        *carry,
        F.col(id_col),
        F.count("*").over(full).alias("__n"),
        F.min(id_col).over(full).alias("__mn"),
        F.collect_list(id_col).over(preceding).alias("__prev"),
    )
    # Per-row pair emission (each pair materializes once, at its larger
    # endpoint): complete in-bucket pairs when the bucket is small, a
    # single star pair to the bucket representative when it is large.
    own = F.col(id_col)
    pair_array = F.when(
        F.col("__n") <= max_bucket_size,
        F.transform("__prev", lambda b: F.struct(b.alias("id_a"), own.alias("id_b"))),
    ).otherwise(
        # star pair (mn, own), or nothing when this row IS the
        # representative — filter on a 1-element array keeps the branch
        # type identical to the transform branch
        F.filter(
            F.array(F.struct(F.col("__mn").alias("id_a"), own.alias("id_b"))),
            lambda p: p["id_a"] != p["id_b"],
        )
    )
    pairs = sized.select(*carry, F.explode(pair_array).alias("p")).select(
        *carry,
        F.col("p.id_a").alias("id_a"),
        F.col("p.id_b").alias("id_b"),
    )
    return pairs.distinct()


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard verification over candidate pairs only.

    jaccard = |distinct(A) ∩ distinct(B)| / |distinct(A) ∪ distinct(B)|
    computed with array built-ins; the candidate set is small so both
    joins broadcast-or-shuffle cheaply.
    """
    sh = with_shingles(df, text_col, k).select(
        F.col(id_col), F.array_distinct(F.col("shingles")).alias("sh")
    )
    sh_a = sh.select(F.col(id_col).alias("__ida"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("__idb"), F.col("sh").alias("sh_b"))
    joined = candidates.join(sh_a, F.col("id_a") == F.col("__ida")).join(
        sh_b, F.col("id_b") == F.col("__idb")
    )
    inter = F.size(F.filter("sh_a", lambda x: F.array_contains("sh_b", x)))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # integer basis points: exact arithmetic, engine-portable (no
    # round-half ambiguity at p/q boundaries)
    jac_bp = F.floor(inter * 10000 / union)
    return (
        joined.withColumn("jaccard_bp", jac_bp)
        .filter(F.col("jaccard_bp") >= int(threshold * 10000))
        .select("id_a", "id_b", "jaccard_bp")
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    k: int = 3,
) -> DataFrame:
    """MinHash-estimated vs exact Jaccard for candidate pairs — the
    estimator-quality diagnostic for tuning (num_hashes, bands): the
    fraction of agreeing signature components is an unbiased estimate of
    the true Jaccard, so ``err_bp`` distributions tell you whether 8
    hashes suffice before committing a 100 TB dedup run to them.

    Output per pair: ``est_bp`` (floor of 10000·matches/num_hashes),
    ``jaccard_bp`` (exact, from the n-gram verifier), ``err_bp`` (est −
    exact). All integer basis points — engine-portable. Cost: the
    signature pass is shared with LSH; the exact pass runs only on the
    (small) candidate set."""
    sigs = with_minhash_signatures(
        df.select(id_col, text_col), text_col, num_hashes, k
    ).drop(text_col)
    sig_cols = [f"sig_{i}" for i in range(num_hashes)]
    a = sigs.select(
        F.col(id_col).alias("__ea"), *[F.col(c).alias(f"a_{c}") for c in sig_cols]
    )
    b = sigs.select(
        F.col(id_col).alias("__eb"), *[F.col(c).alias(f"b_{c}") for c in sig_cols]
    )
    exact = jaccard_pairs(df, candidates, id_col, text_col, k=k, threshold=0.0)
    joined = exact.join(a, F.col("id_a") == F.col("__ea")).join(
        b, F.col("id_b") == F.col("__eb")
    )
    matches = sum(
        (F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in sig_cols
    )
    return joined.select(
        "id_a",
        "id_b",
        F.floor(matches * 10000 / num_hashes).alias("est_bp"),
        "jaccard_bp",
        (F.floor(matches * 10000 / num_hashes) - F.col("jaccard_bp")).alias(
            "err_bp"
        ),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per document over its (multiset of) tokens.

    token hash = first 4 hex chars of md5(token) as a 16-bit int; bit j of
    the simhash is 1 iff the sum over tokens of ±1 (bit set / unset) is
    positive — equivalently iff tokens-with-bit-set outnumber half the
    tokens (2·set > n; a tie is 0, matching the sum>0 form).

    Fully narrow: delegates to ``simhash_bits(bits=16)`` — identical
    hash family and tie rule (verified bit-for-bit), but ONE
    aggregate+zip_with fold over the token-hash array instead of 16
    counted filter passes (~40% faster at bench scale, and the codegen
    is 16 array loops smaller). No explode, no shuffle — the original
    explode+groupBy form shuffled one row per token (O(corpus tokens)
    exchange traffic). Documents with no tokens are dropped, mirroring
    explode semantics.
    """
    return simhash_bits(df, id_col, text_col, bits=16)


def simhash_bits(
    df: DataFrame, id_col: str, text_col: str, bits: int = 60
) -> DataFrame:
    """``bits``-wide SimHash per document (≤ 60 so every intermediate
    fits a signed long), as one narrow aggregate fold.

    token hash = first bits/4 hex chars of md5(token); per-token bit
    vectors are summed into a ``bits``-long count array with a single
    ``aggregate``+``zip_with`` fold (MSB first), then Horner-folded into
    the final hash (bit j set iff tokens-with-bit-set outnumber half —
    same tie rule as simhash16). No explode, no shuffle, and the codegen
    stays small because the per-bit work is array loops, not ``bits``
    unrolled expressions."""
    if bits % 4 or bits > 60:
        raise ValueError("bits must be a multiple of 4, at most 60")
    hex_chars = bits // 4
    d = ensure_parallelism(df).select(F.col(id_col), tokens(text_col).alias("__toks"))
    d = d.withColumn(
        "__hs",
        F.transform(
            "__toks",
            lambda t: _hex_to_long(F.substring(F.md5(t), 1, hex_chars), hex_chars),
        ),
    )
    # MSB-first powers so the count array Horner-folds directly
    pows = F.array(*[F.lit(2**j).cast("long") for j in range(bits - 1, -1, -1)])
    counts = F.aggregate(
        "__hs",
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                pows,
                lambda p: F.when((h % (p * 2)) >= p, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            lambda a, c: a + c,
        ),
    )
    n = F.size("__hs")
    sim = F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda acc, c: acc * 2
        + F.when(c * 2 > n, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return d.filter(n > 0).select(F.col(id_col), sim.alias("simhash"))


def _hex_to_long(c: Column, width: int) -> Column:
    """Parse ``width`` lowercase hex chars to a long with the same
    explicit digit fold as _hex16_to_int (engine-portable)."""
    acc = F.lit(0).cast("long")
    for i in range(1, width + 1):
        acc = acc * 16 + (F.instr(F.lit(HEX_DIGITS), F.substring(c, i, 1)) - 1)
    return acc


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    bands: int = 4,
    hamming_max: int = 3,
    max_bucket_size: int = 32,
) -> DataFrame:
    """Near-duplicate (id_a < id_b, hamming) pairs via banded SimHash.

    The ``bits``-wide simhash is cut into ``bands`` equal slices; by
    pigeonhole, two hashes within hamming distance < ``bands`` share at
    least one exact band — so candidate generation is the same bounded
    bucket-join as MinHash-LSH (banded_pairs), and only candidates pay
    the exact hamming check (bit_count of xor). One aggregation pass for
    signatures, one spillable window for candidates, one join back for
    verification — every shuffle keyed on uniform hashes or doc ids.

    Note hamming_max ≥ bands is supported but loses the pigeonhole
    guarantee (standard multi-table SimHash trade-off); the default
    (3 < 4 bands) is exact.
    """
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sims = simhash_bits(df, id_col, text_col, bits)
    banded = sims.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    cand = banded_pairs(banded, id_col, max_bucket_size)
    sa = sims.select(F.col(id_col).alias("__ia"), F.col("simhash").alias("__sa"))
    sb = sims.select(F.col(id_col).alias("__ib"), F.col("simhash").alias("__sb"))
    joined = cand.join(sa, F.col("id_a") == F.col("__ia")).join(
        sb, F.col("id_b") == F.col("__ib")
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        joined.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= hamming_max)
        .select("id_a", "id_b", "hamming")
    )


def fingerprint_bands(
    hashes: DataFrame,
    id_col: str | None,
    hash_col: str,
    bit_width: int,
    bands: int = 4,
) -> DataFrame:
    """(id, hash) → (id, hash, band_idx, band_val): the ``bit_width``-
    bit integer fingerprint cut into ``bands`` equal slices — the
    banding shared by :func:`hash_neardup_pairs` (batch all-pairs) and
    the streaming near-dup admission gate
    (``admission.neardup_ingest_foreach_batch``), which probes arriving
    fingerprints against stored band values. ``id_col=None`` emits
    (hash, band_idx, band_val) only — the state-side shape, where ids
    are irrelevant."""
    if bit_width % bands:
        raise ValueError("bands must divide the hash bit width")
    band_bits = bit_width // bands
    mask = (1 << band_bits) - 1
    cols = ([F.col(id_col)] if id_col else []) + [
        F.col(hash_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(hash_col, b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    ]
    return hashes.select(*cols)


def hash_neardup_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    bit_width: int,
    bands: int = 4,
    hamming_max: int = 3,
    max_bucket_size: int = 32,
) -> DataFrame:
    """Banded near-duplicate pairs over ANY integer fingerprint column
    — the machinery shared by text SimHash, image dHash, and audio
    energy-hash dedup: the ``bit_width``-bit hash cut into ``bands``
    equal slices (pigeonhole-exact for hamming < bands), candidates
    from the bounded ``banded_pairs`` bucket-join, exact Hamming
    verification (bit_count of xor) on candidates only. The window
    keys on (band_idx, band_val), the verify joins key on ids — no
    other shuffle shape, whatever the modality.

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming ≤
    ``hamming_max``."""
    banded = fingerprint_bands(
        hashes, id_col, hash_col, bit_width, bands
    ).drop(hash_col)
    cand = banded_pairs(banded, id_col, max_bucket_size)
    ha = hashes.select(F.col(id_col).alias("__ia"), F.col(hash_col).alias("__ha"))
    hb = hashes.select(F.col(id_col).alias("__ib"), F.col(hash_col).alias("__hb"))
    joined = cand.join(ha, F.col("id_a") == F.col("__ia")).join(
        hb, F.col("id_b") == F.col("__ib")
    )
    hamming = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return (
        joined.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= hamming_max)
        .select("id_a", "id_b", "hamming")
    )


def image_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "blob",
    in_w: int = 8,
    in_h: int = 8,
    bands: int = 4,
    hamming_max: int = 3,
    max_bucket_size: int = 32,
) -> DataFrame:
    """Image perceptual-hash near-duplicate pairs — the multimodal
    twin of :func:`simhash_neardup_pairs`, and the image-level dedup
    step every multimodal corpus pipeline (LAION-style) runs before
    any embedding pass: dHash per image
    (operators/multimodal.py::image_dhash — one vectorized Arrow pass,
    the only non-JVM stage) through :func:`hash_neardup_pairs`."""
    from kafka_dbsync_spark.operators.multimodal import image_dhash

    bit_width = in_h * (in_w - 1)
    if bit_width % bands:
        raise ValueError("bands must divide in_h * (in_w - 1)")
    hashes = image_dhash(df, id_col, blob_col, in_w=in_w, in_h=in_h)
    return hash_neardup_pairs(
        hashes, id_col, "dhash", bit_width, bands, hamming_max,
        max_bucket_size,
    )


def audio_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "blob",
    window: int = 4,
    n_windows: int = 57,
    bands: int = 4,
    hamming_max: int = 3,
    max_bucket_size: int = 32,
) -> DataFrame:
    """Audio fingerprint near-duplicate pairs — the third modality of
    the dedup triangle (text SimHash / image dHash / THIS): the
    Chromaprint-family idea of hashing the energy CONTOUR, reduced to
    exact integer math (operators/multimodal.py::audio_dhash — bit k
    set iff window k's energy exceeds window k+1's; energies are sums
    of squared centered 8-bit samples, so any engine replays the bits
    exactly), then the shared :func:`hash_neardup_pairs` banding. A
    clipped or one-sample-damaged re-encode lands within a few bits;
    unrelated audio is ~half the bits away."""
    from kafka_dbsync_spark.operators.multimodal import audio_dhash

    bit_width = n_windows - 1
    if bit_width % bands:
        raise ValueError("bands must divide n_windows - 1")
    hashes = audio_dhash(
        df, id_col, blob_col, window=window, n_windows=n_windows
    )
    return hash_neardup_pairs(
        hashes, id_col, "ahash", bit_width, bands, hamming_max,
        max_bucket_size,
    )


_VIDEO_FRAME_STRIDE = 1024


def video_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "blob",
    frame_bytes: int = 64,
    in_w: int = 8,
    in_h: int = 8,
    every_n: int = 1,
    max_frames: int = 16,
    min_matches: int = 3,
    bands: int = 4,
    hamming_max: int = 3,
    max_bucket_size: int = 32,
) -> DataFrame:
    """Video near-duplicate pairs by FRAME-FINGERPRINT VOTING — the
    standard video-dedup recipe (sample frames, perceptual-hash each,
    call two videos near-dups when enough frames match): a re-encoded
    or lightly-edited copy shares most frame fingerprints even when no
    byte of the container matches.

    Pipeline, all shared machinery: :func:`multimodal.sample_frames`
    fans each video into its sampled raw frames (one Arrow pass over
    the blobs — the only time media bytes are touched),
    :func:`multimodal.image_dhash` fingerprints every frame, the frames
    ride :func:`hash_neardup_pairs`' banding under a composite
    ``video_id × 1024 + frame_idx`` key (so frame rows need no struct
    key; ``max_frames × every_n`` must stay < 1024), cross-VIDEO frame
    matches vote per video pair, and a pair survives at
    ``min_matches`` distinct matching anchor frames (anchor = the
    lower-id video's frame index, so a frame matching several frames of
    the other video counts once).

    Output: (id_a, id_b, n_matched_frames) with id_a < id_b and
    ``n_matched_frames >= min_matches``. At 100 TB the shuffle carries
    (frame-key, band) longs only — frames and videos never shuffle."""
    from kafka_dbsync_spark.operators.multimodal import (
        image_dhash,
        sample_frames,
    )

    if max_frames * every_n >= _VIDEO_FRAME_STRIDE:
        raise ValueError(
            f"max_frames * every_n must be < {_VIDEO_FRAME_STRIDE} "
            "(frame indexes pack into the composite key)"
        )
    bit_width = in_h * (in_w - 1)
    frames = sample_frames(
        df, id_col, blob_col, frame_bytes=frame_bytes, every_n=every_n,
        max_frames=max_frames,
    )
    keyed = frames.select(
        (
            F.col(id_col) * _VIDEO_FRAME_STRIDE + F.col("frame_idx")
        ).alias("fid"),
        "frame",
    )
    hashes = image_dhash(keyed, "fid", "frame", in_w=in_w, in_h=in_h)
    pairs = hash_neardup_pairs(
        hashes, "fid", "dhash", bit_width, bands, hamming_max,
        max_bucket_size,
    )
    s = _VIDEO_FRAME_STRIDE
    va = F.expr(f"id_a div {s}")
    vb = F.expr(f"id_b div {s}")
    anchor = F.when(va < vb, F.col("id_a") % s).otherwise(F.col("id_b") % s)
    return (
        pairs.filter(va != vb)
        .select(
            F.least(va, vb).alias("id_a"),
            F.greatest(va, vb).alias("id_b"),
            anchor.alias("__anchor"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("__anchor").alias("n_matched_frames"))
        .filter(F.col("n_matched_frames") >= min_matches)
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``k``-gram, slide
    a window of ``w`` consecutive hashes, and keep each window's minimum
    (RIGHTMOST minimum on ties — the ``<=`` fold). Guarantees every
    match of length ≥ w+k-1 tokens shares a fingerprint while keeping
    ~2/(w+1) of the grams — the storage-bounded local dedup/plagiarism
    index that ``doc_fingerprint``'s whole-document hash can't give.

    FULLY NARROW: shingling, hashing, window minima, and dedup of
    adjacent picks are all per-row array ops (no explode, no shuffle —
    the same CPU-for-shuffle trade as the simhash rewrite). Output is
    one row per selected (position, fingerprint): at 100 TB this column
    is the build side of a partition-local inverted index. Hashes are
    8-hex md5 slices compared lexicographically (engine-portable);
    documents shorter than ``k`` tokens contribute their whole text as
    one gram, shorter than ``w`` grams one window; NULL text is missing
    data and contributes no fingerprints (without the filter the fold's
    '~' sentinel would leak out as a bogus shared fingerprint that
    false-clusters every NULL-text doc)."""
    d = with_shingles(
        df.filter(F.col(text_col).isNotNull()), text_col, k, out="__sh"
    )
    d = d.withColumn(
        "__H", F.transform(F.col("__sh"), lambda s: F.substring(F.md5(s), 1, 8))
    )
    H = F.col("__H")
    n = F.size(H)

    def pick(p):
        start = F.greatest(F.lit(1), p - (w - 1))
        return F.aggregate(
            F.sequence(start, p),
            F.struct(F.lit("~").alias("m"), F.lit(-1).cast("int").alias("j")),
            lambda acc, i: F.when(
                F.element_at(H, i.cast("int")) <= acc["m"],
                F.struct(
                    F.element_at(H, i.cast("int")).alias("m"),
                    i.cast("int").alias("j"),
                ),
            ).otherwise(acc),
        )

    picks = F.array_distinct(
        F.transform(F.sequence(F.least(F.lit(w), n), n), pick)
    )
    return (
        d.withColumn("__p", F.explode(picks))
        .select(
            F.col(id_col),
            F.col("__p.j").cast("long").alias("pos"),
            F.col("__p.m").alias("fp"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup REWRITE (the cleaning step of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    their ExactSubstr removes every duplicated 50-token span from the
    corpus rather than dropping whole documents; token-k-gram spans
    stand in for the suffix-array substrings): every token position
    covered by a k-gram that appears in >= ``min_docs`` distinct
    documents is removed, and the surviving tokens are re-joined in
    order. Detection twin: queries.py::duplicate_ngram_spans surfaces
    the spans; this operator performs the edit.

    Plan shape: positioned shingles explode once; duplicated shingles
    come from ONE map-side-combined count-distinct on the uniform
    shingle key (the only corpus-wide shuffle); each affected doc gets
    its duplicated span STARTS back as one array (spans per doc are
    few), and coverage + rewrite run JVM-side with higher-order
    functions — no all-pairs join, no Python UDF, no per-token shuffle.
    Docs with no duplicated span are absent from the output (nothing to
    rewrite), matching the inner join on affected docs.

    Returns (id_col, n_tokens, n_removed, cleaned_text) for affected
    docs; ``cleaned_text`` is the normalized-token respelling ('' when
    the whole doc was duplicated spans).
    """
    d = docs.select(id_col, tokens(text_col).alias("toks"))
    posed = (
        ensure_parallelism(d.filter(F.size("toks") >= k))
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {k} + 1), "
                    f"i -> struct(i AS i, concat_ws(' ', slice(toks, i, {k})) AS sh))"
                )
            ).alias("g"),
        )
        .select(id_col, "g.i", "g.sh")
    )
    dup = (
        posed.groupBy("sh")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("sh")
    )
    starts = (
        posed.join(dup, "sh")
        .groupBy(id_col)
        .agg(F.collect_set("i").alias("starts"))
    )
    joined = d.join(starts, id_col)
    kept = F.expr(
        "transform(filter(transform(sequence(1, size(toks)), "
        "p -> struct(p AS p, element_at(toks, p) AS w)), "
        f"x -> NOT exists(starts, s -> x.p >= s AND x.p <= s + {k} - 1)), "
        "x -> x.w)"
    )
    return joined.withColumn("kept", kept).select(
        id_col,
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size("kept")).cast("long").alias("n_removed"),
        F.concat_ws(" ", F.col("kept")).alias("cleaned_text"),
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    mode: str = "keep_first",
) -> DataFrame:
    """Paragraph-level dedup — the ACTUAL first step of CCNet (Wenzek
    et al. 2020, "CCNet: Extracting High Quality Monolingual Datasets
    from Web Crawl Data", §3: paragraphs are hashed and duplicated
    hashes dropped BEFORE LM scoring) and the most common production
    dedup granularity, sitting between whole-document dedup
    (dedup_exact/minhash/setsim) and duplicated-span rewriting
    (remove_duplicate_spans): split each document on ``sep``, hash the
    NORMALIZED paragraph (lowercase, whitespace-collapsed — the
    engine-portable core of CCNet's normalization), and remove
    duplicated paragraph instances corpus-wide:

    - ``mode="keep_first"`` (CCNet's behavior): the globally first
      instance — smallest (doc, position) — of each duplicated hash
      survives; every other instance is removed.
    - ``mode="drop_all"``: every instance of a hash that occurs more
      than once is removed (the strict form: boilerplate vanishes
      entirely, including its first occurrence).

    Duplicates WITHIN one document count — CCNet hashes over the whole
    corpus, so a document repeating its own paragraph loses the repeat
    (keep_first) or both copies (drop_all). Paragraphs whose normalized
    form is EMPTY (blank lines, runs of separators) are kept verbatim
    and never dedup'd — they are formatting, not content, and their
    shared hash would otherwise be the corpus's hottest key.

    Plan shape (the remove_duplicate_spans discipline): paragraphs
    posexplode once; ONE map-side-combined aggregate on the paragraph
    hash (count + min-(doc,pos) struct — both partial-aggregable, so
    boilerplate hashes collapse map-side and never skew the shuffle)
    finds the duplicated hashes and their first holders; each affected
    doc gets its doomed paragraph POSITIONS back as one small array;
    the rewrite (filter positions, re-join survivors with ``sep``) is
    a JVM-side higher-order expression over the doc's own paragraph
    array. No all-pairs join, no Python UDF; corpus text shuffles
    zero times (only hashes and positions move).

    Returns (id_col, n_paras, n_removed, cleaned_text) for AFFECTED
    docs only (inner-join semantics, matching remove_duplicate_spans);
    ``cleaned_text`` is '' when every paragraph was removed.
    """
    import re

    if mode not in ("keep_first", "drop_all"):
        raise ValueError(f"mode must be keep_first or drop_all (got {mode!r})")
    d = docs.select(
        id_col, F.split(F.col(text_col), re.escape(sep)).alias("paras")
    )
    norm = F.trim(F.regexp_replace("para", r"\s+", " "))
    cand = (
        ensure_parallelism(d)
        .select(id_col, F.posexplode("paras").alias("idx0", "para"))
        .select(
            id_col,
            (F.col("idx0") + 1).alias("i"),
            F.md5(F.lower(norm)).alias("key"),
            F.length(norm).alias("nlen"),
        )
        .filter(F.col("nlen") > 0)
        .drop("nlen")
    )
    agg = cand.groupBy("key").agg(
        F.count("*").alias("c"),
        F.min(F.struct(F.col(id_col).alias("fd"), F.col("i").alias("fi"))).alias(
            "first"
        ),
    )
    dup = agg.filter(F.col("c") >= 2)
    doomed = cand.join(dup, "key")
    if mode == "keep_first":
        doomed = doomed.filter(
            ~(
                (F.col(id_col) == F.col("first.fd"))
                & (F.col("i") == F.col("first.fi"))
            )
        )
    drops = doomed.groupBy(id_col).agg(F.collect_set("i").alias("drop_idx"))
    joined = d.join(drops, id_col)
    kept = F.expr(
        "transform(filter(transform(sequence(1, size(paras)), "
        "p -> struct(p AS p, element_at(paras, p) AS q)), "
        "x -> NOT array_contains(drop_idx, x.p)), x -> x.q)"
    )
    return joined.select(
        F.col(id_col),
        F.size("paras").cast("long").alias("n_paras"),
        F.size("drop_idx").cast("long").alias("n_removed"),
        F.array_join(kept, sep).alias("cleaned_text"),
    )


def host_boilerplate_strip(
    docs: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_frac_pct: int = 25,
    min_docs: int = 2,
) -> DataFrame:
    """HOST-scoped boilerplate removal — the RefinedWeb/FineWeb line
    dedup step (Penedo et al. 2023 §3.2 run line-wise dedup because
    nav bars, cookie banners and copyright footers repeat across a
    SITE's pages, not across the web): a paragraph whose normalized
    hash appears in at least ``min_frac_pct`` percent of a host's
    documents (and in at least ``min_docs`` of them) is boilerplate
    for that host and is removed from EVERY document of the host —
    including its first instance, unlike ``paragraph_dedup``'s
    keep-first corpus-global algebra (a site's footer is noise in all
    of its copies; a genuinely duplicated content paragraph still has
    one authoritative copy).

    The threshold compares exact integers (``n_docs_with * 100 >=
    n_host_docs * pct``) so the cut replays bit-for-bit on any engine.
    A document repeating a paragraph counts ONCE toward its host's
    document frequency (count-distinct, not instance count), and
    normalized-empty paragraphs are formatting, never boilerplate
    (paragraph_dedup's rule).

    Plan shape (reworked after the r10 scale probe measured 2.51× at
    10× data): paragraphs posexplode ONCE — per-(host, key) document
    frequency is the exact distinct-count-over-window idiom
    (max(dense_rank) over the (host, key) partition) computed on the
    SAME exploded rows the position rewrite consumes, where the r10
    shape re-derived the explode+normalize+md5 subtree twice (once to
    mine the key set, once to find doomed instances). Host sizes are
    one tiny per-host count broadcast in; the doomed-position rewrite
    is paragraph_dedup's JVM higher-order filter. Corpus text shuffles
    zero times and is SCANNED twice total (candidate pass + final
    reassembly join), down from three. At 100 TB the (host, key)
    window key space is boilerplate-bounded and near-uniform under
    md5 — no skew.

    Returns (id_col, host_col, n_paras, n_removed, cleaned_text) for
    AFFECTED docs only; ``cleaned_text`` is '' when every paragraph
    was boilerplate.
    """
    from pyspark.sql import Window

    if not (0 < min_frac_pct <= 100):
        raise ValueError(f"min_frac_pct must be in (0, 100] (got {min_frac_pct})")
    d, cand = _paragraph_candidates(docs, host_col, id_col, text_col, sep)
    host_sizes = docs.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("n_host_docs")
    )
    w = Window.partitionBy(host_col, "key")
    n_docs_with = F.max(
        F.dense_rank().over(w.orderBy(id_col))
    ).over(w)
    doomed = (
        cand.withColumn("n_docs_with", n_docs_with)
        .join(F.broadcast(host_sizes), host_col)
        .filter(
            (F.col("n_docs_with") >= F.lit(min_docs))
            & (
                F.col("n_docs_with") * 100
                >= F.col("n_host_docs") * F.lit(min_frac_pct)
            )
        )
    )
    return _assemble_from_drops(d, doomed, host_col, id_col, sep)


def _paragraph_candidates(
    docs: DataFrame, host_col: str, id_col: str, text_col: str, sep: str
):
    """(paragraph-array frame, non-empty normalized-hash candidates) —
    the shared derivation of the batch strip and the frozen-key serve
    path (both must hash identical paragraphs)."""
    import re

    d = docs.select(
        id_col, host_col, F.split(F.col(text_col), re.escape(sep)).alias("paras")
    )
    norm = F.trim(F.regexp_replace("para", r"\s+", " "))
    cand = (
        ensure_parallelism(d)
        .select(id_col, host_col, F.posexplode("paras").alias("idx0", "para"))
        .select(
            id_col,
            host_col,
            (F.col("idx0") + 1).alias("i"),
            F.md5(F.lower(norm)).alias("key"),
            F.length(norm).alias("nlen"),
        )
        .filter(F.col("nlen") > 0)
        .drop("nlen")
    )
    return d, cand


def mine_boilerplate_keys(
    docs: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_frac_pct: int = 25,
    min_docs: int = 2,
) -> DataFrame:
    """The (host, key) boilerplate set host_boilerplate_strip removes —
    exposed so the set can be PERSISTED and applied to new arrivals
    (operators/boilerplate_index.py): paragraphs in ≥ ``min_frac_pct``
    percent of a host's docs (count-distinct df, ``min_docs`` floor)."""
    _, cand = _paragraph_candidates(docs, host_col, id_col, text_col, sep)
    # two-level distinct: (host, key, doc) first so a doc repeating its
    # host's footer contributes one unit, then the per-key doc count
    per_key = (
        cand.select(host_col, "key", id_col)
        .distinct()
        .groupBy(host_col, "key")
        .agg(F.count(F.lit(1)).alias("n_docs_with"))
    )
    host_sizes = docs.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("n_host_docs")
    )
    return (
        per_key.join(F.broadcast(host_sizes), host_col)
        .filter(
            (F.col("n_docs_with") >= F.lit(min_docs))
            & (
                F.col("n_docs_with") * 100
                >= F.col("n_host_docs") * F.lit(min_frac_pct)
            )
        )
        .select(host_col, "key")
    )


def _strip_by_keys(
    d: DataFrame,
    cand: DataFrame,
    boiler: DataFrame,
    host_col: str,
    id_col: str,
    sep: str,
) -> DataFrame:
    """Remove every instance of the flagged (host, key) paragraphs —
    the served path's entry (the key set comes from a persisted
    generation, operators/boilerplate_index.py). Affected docs only."""
    doomed = cand.join(boiler, [host_col, "key"])
    return _assemble_from_drops(d, doomed, host_col, id_col, sep)


def _assemble_from_drops(
    d: DataFrame,
    doomed: DataFrame,
    host_col: str,
    id_col: str,
    sep: str,
) -> DataFrame:
    """Final rewrite shared by the fused and served strips: collect the
    doomed positions per doc, join back to the doc's own paragraph
    array, drop them with the JVM higher-order filter."""
    drops = doomed.groupBy(id_col).agg(F.collect_set("i").alias("drop_idx"))
    joined = d.join(drops, id_col)
    kept = F.expr(
        "transform(filter(transform(sequence(1, size(paras)), "
        "p -> struct(p AS p, element_at(paras, p) AS q)), "
        "x -> NOT array_contains(drop_idx, x.p)), x -> x.q)"
    )
    return joined.select(
        F.col(id_col),
        F.col(host_col),
        F.size("paras").cast("long").alias("n_paras"),
        F.size("drop_idx").cast("long").alias("n_removed"),
        F.array_join(kept, sep).alias("cleaned_text"),
    )


def _pair_jaccard_hash_batches(tbp: int):
    """mapInArrow kernel: exact Jaccard basis points per candidate pair
    from the two docs' 128-BIT HASHED shingle arrays (r14 opt, VERDICT
    r13 #3 / guide §2.3: the r13 verifier attached the full shingle
    STRING arrays to every candidate pair — ~1.5 GB of Arrow string
    transfer at sf0.1, and at scale two joins shipping Σ(|A|+|B|)
    strings per pair. Pair rows now carry list<struct<h1,h2>> — the
    SAME ``struct(xxhash64(g), xxhash64(1,g))`` keys the candidate
    machinery already trusts, 16 bytes per shingle, no strings past
    the source projection).

    Exactness: equal shingles always hash equal, so the intersection
    count over (pair, h1, h2) triples equals the string intersection
    unless two DISTINCT shingles collide in all 128 bits — the same
    collision class as the md5 digest-equality contract the clone
    collapse rests on (and the prefix-filter candidate keys already
    accepted). Both sides are genuine sets (``array_distinct``
    upstream + injective-under-the-contract hashing), so
    ``assume_unique`` holds. ``jaccard_bp = floor(inter*1e4/union)``
    in int64 — the exact integer arithmetic of the JVM expression the
    r12 verifier evaluated."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def fn(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            sa, sb = b.column("hs_a"), b.column("hs_b")
            la = np.asarray(pc.list_value_length(sa).fill_null(0)).astype(
                np.int64
            )
            lb = np.asarray(pc.list_value_length(sb).fill_null(0)).astype(
                np.int64
            )
            fla, flb = sa.flatten(), sb.flatten()
            fa, tot = len(fla), len(fla) + len(flb)
            inter = np.zeros(n, dtype=np.int64)
            if tot:
                # batch-local joint dictionary over the 16-byte keys:
                # Arrow's hash-based dictionary_encode (no sort) assigns
                # one int32 code per distinct 128-bit value — exact
                # equality, exactly as it did for the r13 strings
                k128 = np.empty((tot, 2), dtype="<i8")
                k128[:fa, 0] = fla.field("h1").to_numpy(zero_copy_only=False)
                k128[:fa, 1] = fla.field("h2").to_numpy(zero_copy_only=False)
                k128[fa:, 0] = flb.field("h1").to_numpy(zero_copy_only=False)
                k128[fa:, 1] = flb.field("h2").to_numpy(zero_copy_only=False)
                fsb = pa.FixedSizeBinaryArray.from_buffers(
                    pa.binary(16), tot, [None, pa.py_buffer(k128)]
                )
                enc = fsb.dictionary_encode()
                codes = enc.indices.to_numpy(zero_copy_only=False).astype(
                    np.int64
                )
                # composite (pair, code) keys fit int64: n ≤ Arrow batch
                # rows (10k default), m ≤ tot + 1
                m = np.int64(len(enc.dictionary)) + 1
                ka = (
                    np.repeat(np.arange(n, dtype=np.int64), la) * m
                    + codes[:fa]
                )
                pidx_b = np.repeat(np.arange(n, dtype=np.int64), lb)
                kb = pidx_b * m + codes[fa:]
                if len(ka) and len(kb):
                    # membership via one sort + searchsorted (cheaper
                    # than intersect1d: B's keys never get sorted); both
                    # sides are genuine sets (array_distinct upstream +
                    # injective-under-the-contract hashing), so each hit
                    # is exactly one shared element
                    ka.sort()
                    pos = np.searchsorted(ka, kb).clip(0, len(ka) - 1)
                    hit = ka[pos] == kb
                    inter = np.bincount(
                        pidx_b[hit], minlength=n
                    ).astype(np.int64)
            union = la + lb - inter
            ok = union > 0
            jac = np.zeros(n, dtype=np.int64)
            np.floor_divide(inter * 10000, union, out=jac, where=ok)
            keep = pa.array(ok & (jac >= tbp))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("id_a").filter(keep),
                    b.column("id_b").filter(keep),
                    pa.array(jac, type=pa.int64()).filter(keep),
                ],
                names=["id_a", "id_b", "jaccard_bp"],
            )

    return fn


def setsim_prefix_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Set-similarity self-join via prefix filtering (the SSJoin/PPJoin
    family: Chaudhuri et al. 2006, Xiao et al. 2011): every pair of
    documents whose k-gram shingle sets have Jaccard >= ``threshold`` —
    with a COMPLETENESS guarantee the MinHash-LSH path deliberately
    trades away (LSH misses pairs with band-collision probability < 1).

    Exactness contract (probabilistic, 128-bit): shingles are compared
    as 128-bit hashes (``xxhash64(g)``, ``xxhash64(1, g)``) in the
    candidate keys and the verifier, and clones collapse on md5 of the
    sorted shingle set. The output equals the string-exact join unless
    two distinct shingles collide in all 128 bits, or two distinct
    shingle sets share an md5 digest. For N distinct shingles (or sets)
    the chance is about N**2 / 2**129: negligible, but not zero.

    Prefix filter: order the shingle universe by (document frequency
    asc, shingle asc) — a total order that puts the rarest shingles
    first — and keep each document's first ``|s| - ceil(t*|s|) + 1``
    shingles under that order. Completeness: J >= t gives
    |A inter B| >= ceil(t*max(|A|,|B|)) = a; if the prefixes were
    disjoint then (taking x = max of A's prefix <= y = max of B's
    prefix) any intersection element <= x would sit in both prefixes,
    so the whole intersection lies in A's (a-1)-element suffix — a
    contradiction. So the candidate equi-join on prefix shingles
    finds every qualifying pair; a length filter
    (t*|b| <= |a| for |a| <= |b|) prunes further, and the exact
    verifier keeps only true pairs.

    Scale: the shingle stream shuffles twice (df counts, per-doc prefix
    assembly); candidates join on PREFIX shingles only — the rarest per
    doc, so bucket sizes stay near 1 even when the corpus shares a head
    vocabulary (joining on ALL shingles would square the head bucket).
    PPJoin's POSITIONAL filter then prunes near-threshold non-pairs
    before verification: a shared prefix element at sorted position
    (pa, pb) bounds the overlap by 1 + min(|A|-pa, |B|-pb), and
    J >= t needs overlap >= t/(1+t)*(|A|+|B|); rows under the bound
    are dropped. Complete, because a qualifying pair's FIRST shared
    prefix element has no shared elements before it, so the bound is
    tight there and that row always survives. Every filter (length,
    prefix slice, positional) runs in EXACT integer basis-point
    arithmetic against the same ``tbp = int(threshold * 10000)``
    contract the verifier enforces — no float threshold ever touches
    a pruning comparison, so a pair exactly at the bp boundary can
    never be pruned by a filter yet accepted by the verifier (the
    double for e.g. 0.34 rounds UP, so ``t * s`` float arithmetic
    would over-prune). The per-doc prefix sort is a narrow
    ``sort_array`` over that document's own shingles; verification is
    one vectorized Arrow pass over pair-scoped 128-bit hashed shingle
    arrays (``_pair_jaccard_hash_batches`` — exact under the same
    collision contract as the clone collapse, fixed-width int64
    matching, no strings past the source projection, no row-at-a-time
    Python).

    CLONE COLLAPSE — the clone-heavy-corpus guard: documents with
    IDENTICAL shingle sets first collapse to one representative
    (md5-of-sorted-set groupBy, the same digest-equality contract as
    dedup_exact), the pairwise machinery runs on representatives only,
    and member pairs expand back through flat joins at the end (every
    intra-clone pair has Jaccard exactly 1; every cross-clone pair
    shares its representatives' score). Web crawls ARE clone-heavy —
    boilerplate and mirrored pages form clone groups of thousands, and
    without the collapse each group of size m inflates every candidate
    bucket m-fold (m² pair rows before verification). Measured: the
    10x-replicated bench corpus (every doc 10 verbatim copies) went
    203 s -> seconds at sf1 with identical output.

    Honest bound: an EXACT join is still output-bound — k mutual
    near-dups have k(k-1)/2 TRUE pairs and every complete algorithm
    must emit them. When only cluster membership is needed downstream,
    feed these pairs to connected_components instead of materializing
    the full pair list.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1] (got {threshold})")
    # the ONE threshold contract, shared by every filter and the
    # verifier: Jaccard qualifies iff floor(inter*1e4/union) >= tbp
    tbp = int(threshold * 10000)
    # the per-doc shingle-set table feeds everything downstream —
    # materialize it once (eager localCheckpoint, the in-session
    # stand-in for the shingle table a 100 TB deployment writes once)
    # and let each consumer re-derive its explode narrowly from it
    # NULL-text docs shingle to [NULL]: a NULL join key can never
    # match, so they pair with nothing — but concat_ws SKIPS nulls,
    # which would clone-group them with EMPTY-text docs ([''])
    # under md5(""). Drop them at the SOURCE (pushes to the scan; an
    # exists() filter on the shingle array instead gets pushed below
    # the projection and re-evaluates the whole shingle transform
    # per row — measured 9x the cost).
    # r14 opt (VERDICT r13 #3, guide §2.3): the shingle STRINGS are
    # consumed entirely at this projection — the clone key (md5 of the
    # sorted set) and the 128-bit per-shingle hashes
    # struct(xxhash64(g), xxhash64(1,g)) are both computed here, and
    # everything downstream (candidate machinery AND the exact
    # verifier) runs on the 16-byte hash structs. The checkpointed
    # table, both verifier joins and the Arrow boundary stop carrying
    # ~25-byte strings; correctness rests on the same 128-bit
    # collision class as the md5 clone-collapse contract.
    all_sh = (
        with_shingles(df.filter(F.col(text_col).isNotNull()), text_col, k)
        .select(
            F.col(id_col),
            F.array_distinct("shingles").alias("sh"),
        )
        .select(
            F.col(id_col),
            F.transform(
                F.col("sh"),
                lambda x: F.struct(
                    F.xxhash64(x).alias("h1"),
                    F.xxhash64(F.lit(1), x).alias("h2"),
                ),
            ).alias("hsh"),
            F.md5(F.concat_ws("\x1f", F.sort_array("sh"))).alias("sk"),
        )
        .localCheckpoint(eager=True)
    )
    members = all_sh.select(id_col, "sk")
    # adaptive: one cheap aggregate over the checkpointed table decides
    # whether any clones exist at all — a clone-free corpus (the common
    # case once upstream exact-dedup ran) skips the representative
    # shuffle, the second checkpoint, AND the member-expansion joins
    stats = all_sh.agg(
        F.count("*").alias("n"), F.countDistinct("sk").alias("ns")
    ).collect()[0]
    has_clones = stats["n"] != stats["ns"]
    if has_clones:
        # one representative per identical-set group (any member's hsh
        # IS the set); checkpointed too — four downstream consumers
        sh = (
            all_sh.groupBy("sk")
            .agg(F.min(id_col).alias(id_col), F.first("hsh").alias("hsh"))
            .localCheckpoint(eager=True)
        )
    else:
        sh = all_sh  # every doc is its own representative
    # The candidate machinery never needs the shingle STRINGS — only a
    # consistent total order and an equality key. It runs on the
    # 128-bit hash structs computed at the source (r13: 16-byte keys
    # through every exchange/sort/join instead of ~25-byte strings,
    # guide §2.3; measured candidate stage 2.08 → 1.38 s at sf0.1).
    # Completeness: df-counts and the order are keyed by the SAME
    # deterministic function of g for every doc, so (df(h), h) is a
    # consistent total order, and equal g ⇒ equal h always holds — the
    # prefix pigeonhole argument is unchanged. Distinct shingles
    # sharing h would merge a key; 128 bits puts that in the same
    # collision class as the md5 digest-equality contract the clone
    # collapse above already rests on.
    exploded = sh.select(
        id_col, F.size("hsh").alias("s"), F.explode("hsh").alias("g")
    )
    dfreq = exploded.groupBy("g").agg(F.count("*").alias("df"))
    # per-doc prefix under the global (df, g) order: attach df, fold the
    # doc's shingles back together sorted, slice the prefix
    pref = (
        exploded.join(dfreq, "g")
        .groupBy(id_col, "s")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("g")))
            ).alias("ordered")
        )
        .select(
            id_col,
            "s",
            F.posexplode(
                F.slice(
                    F.col("ordered.g"),
                    1,
                    # |s| - ceil(tbp*|s|/1e4) + 1, exact integer ceil:
                    # a qualifying pair has inter*1e4 >= tbp*union and
                    # union >= |s|, so inter >= ceil(tbp*|s|/1e4)
                    (
                        F.col("s")
                        - F.floor(
                            (F.col("s") * F.lit(tbp) + F.lit(9999))
                            / F.lit(10000)
                        )
                        + 1
                    ).cast("int"),
                )
            ).alias("p", "g"),
        )
        # 1-based position of the shingle in the doc's full sorted set
        .select(id_col, "s", (F.col("p") + 1).alias("p"), "g")
    )
    a = pref.select(
        F.col(id_col).alias("id_a"), F.col("s").alias("sa"), F.col("p").alias("pa"), "g"
    )
    b = pref.select(
        F.col(id_col).alias("id_b"), F.col("s").alias("sb"), F.col("p").alias("pb"), "g"
    )
    ubound = F.lit(1) + F.least(
        F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb")
    )
    cand = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter in exact bp: qualifying forces
        # floor(min*1e4/max) >= tbp, i.e. min*1e4 >= tbp*max
        .filter(
            F.least("sa", "sb") * F.lit(10000)
            >= F.lit(tbp) * F.greatest("sa", "sb")
        )
        # positional filter in exact bp: inter*1e4 >= tbp*union with
        # union = sa+sb-inter gives inter*(1e4+tbp) >= tbp*(sa+sb);
        # a surviving pair needs the overlap upper bound to allow it
        .filter(
            ubound * F.lit(10000 + tbp)
            >= F.lit(tbp) * (F.col("sa") + F.col("sb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verify-parallelism guard (r14): AQE rightly coalesces the tiny
    # (id_a, id_b) distinct output to ~1 partition, but the verifier's
    # Arrow pass downstream is CPU-bound and the attach joins are
    # broadcast (they preserve partitioning), so the whole verification
    # would run on 1-2 cores. Re-spread the NARROW pair rows (16 bytes
    # each) before the arrays are attached — the heavy payload is never
    # re-shuffled, exactly the guide §8 rule (decide with small rows,
    # move big rows once).
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    # exact verification on PAIR-SCOPED payloads (r13 opt, guide §8),
    # now on the 128-bit HASH arrays (r14 opt, VERDICT r13 #3): attach
    # the two docs' hash-struct arrays to each candidate pair (two
    # joins against the ≤corpus-sized set table) and count the
    # intersection in one Arrow pass (_pair_jaccard_hash_batches). The
    # r12 equi-join verifier re-shuffled the exploded shingle stream
    # twice — Σ|A| rows PER candidate pair through an exchange + hash
    # aggregate; the r13 arrays-on-pairs shape fixed that but shipped
    # the full STRING arrays through both joins and the Python
    # boundary (~1.5 GB at sf0.1). Pair rows now carry 16 bytes per
    # shingle and the kernel matches fixed-width int64 triples — no
    # string materialization past the source projection.
    sh_sets = sh.select(F.col(id_col).alias("__sid"), "hsh")
    pairs_in = (
        cand.join(
            sh_sets.select(
                F.col("__sid").alias("id_a"), F.col("hsh").alias("hs_a")
            ),
            "id_a",
        )
        .join(
            sh_sets.select(
                F.col("__sid").alias("id_b"), F.col("hsh").alias("hs_b")
            ),
            "id_b",
        )
        .select("id_a", "id_b", "hs_a", "hs_b")
    )
    id_type = dict(df.dtypes)[id_col]
    rep_pairs = pairs_in.mapInArrow(
        _pair_jaccard_hash_batches(tbp),
        f"id_a {id_type}, id_b {id_type}, jaccard_bp bigint",
    )
    if not has_clones:
        return rep_pairs  # expansion would be the identity
    # expand representative pairs back to members, all flat joins:
    # (a) cross-clone pairs inherit their representatives' score;
    # (b) intra-clone pairs are identical sets -> Jaccard exactly 1,
    #     qualifying at any threshold <= 1
    rk = sh.select(F.col(id_col).alias("__rid"), "sk")
    cross = (
        rep_pairs.join(
            rk.select(F.col("__rid").alias("id_a"), F.col("sk").alias("sk_a")),
            "id_a",
        )
        .join(
            rk.select(F.col("__rid").alias("id_b"), F.col("sk").alias("sk_b")),
            "id_b",
        )
        .join(
            members.select(F.col("sk").alias("sk_a"), F.col(id_col).alias("ma")),
            "sk_a",
        )
        .join(
            members.select(F.col("sk").alias("sk_b"), F.col(id_col).alias("mb")),
            "sk_b",
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jaccard_bp",
        )
    )
    m_a = members.select("sk", F.col(id_col).alias("id_a"))
    m_b = members.select("sk", F.col(id_col).alias("id_b"))
    intra = (
        m_a.join(m_b, "sk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(10000).cast("bigint").alias("jaccard_bp"))
    )
    return cross.unionByName(intra)
