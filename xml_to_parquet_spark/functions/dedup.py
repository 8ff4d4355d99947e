"""Deduplication operators for large-scale document pipelines.

Near-dup detection strategies, scale-ranked:

- exact_dedup:        hash-groupBy on a normalized fingerprint. One shuffle
                      whose volume is #distinct keys (map-side combine).
- ngram_jaccard_pairs: word n-gram shingles → inverted-index self-join →
                      exact Jaccard. Exact but O(pairs-sharing-a-shingle);
                      use minhash_lsh_candidates first at scale.
- minhash_lsh_candidates: shingle → K minhashes → band buckets → bucket
                      join. Near-dup candidates in ~linear time; the
                      canonical 100 TB dedup path (MMDS ch.3 construction).
- simhash:            32-bit per-doc signature via per-token hash bit votes;
                      near-dups = small Hamming distance on signatures.
- embedding_neardup_pairs: cosine over an embedding column (semantic dups).

Edit-distance fuzzy matching — three LOSSLESS blockers, all verified by
thresholded levenshtein and all returning the identical exact pair set
(fuzzy_pairs_auto dispatches on measured key shape):

- fuzzy_pairs_symdel: symmetric-delete neighborhoods (SymSpell), k ≤ 2 on
                      short keys — candidates track OUTPUT size.
- fuzzy_pairs_qgram:  ED-Join positional q-gram prefix filtering — flat
                      k·q+1 rows/string; the long/variable-text path.
- fuzzy_pairs_auto:   the entry point — dispatches between the two
                      blockers above by key length/variance stats.
- fuzzy_pairs:        DEPRECATED length-bucket legacy (degenerates on
                      uniform-length corpora); kept for benchmarks only.

Graph aftermath: dedup_clusters (min-label propagation) /
dedup_clusters_star (star contraction, any diameter) → dedup_apply /
dedup_against_corpus / contamination scan.

Everything is built-in column expressions (explode/groupBy/join — JVM side,
no Python UDFs). Hash functions are MD5-derived 32-bit ints so the DuckDB
oracles can reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xml_to_parquet_spark.functions.text import fingerprint_md5, norm_text
from xml_to_parquet_spark.session import process_scratch_dir, scoped_conf

# MinHash parameters. Permutation constants (a,b) are generated from a
# fixed linear-congruential recurrence so both engines can regenerate them;
# values kept < 2^20 so a*h + b < 2^52 (no bigint overflow under ANSI).
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 rows/band
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _perm_constants() -> list[tuple[int, int, int]]:
    """[(perm_id, a, b)] — deterministic, shared with the oracle SQL."""
    out = []
    a, b = 484_751, 918_873  # arbitrary fixed seeds < 2^20
    for i in range(MINHASH_PERMS):
        a = (a * 69069 + 1) % (1 << 20) or 7
        b = (b * 69069 + 1) % (1 << 20)
        out.append((i, a, b))
    return out


def md5_hash32(col: Column) -> Column:
    """First 8 hex digits of MD5 as a 32-bit unsigned int (bigint-typed).

    conv(hex, 16, 10) — DuckDB twin: CAST('0x'||substr(md5(x),1,8) AS BIGINT).
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def ngram_array(toks: Column, n: int) -> Column:
    """Word n-grams of a token array via a shifted zip_with chain — O(len)
    per row. The naive per-index ``slice(toks, i, n)`` build is O(len²)
    (each slice copies) and measured 5× slower at sf0.1; ``concat``
    propagates the null padding zip_with adds past the shorter array, so
    one trailing filter removes the incomplete tail grams."""
    grams = toks
    for s in range(1, n):
        shifted = F.slice(
            toks, s + 1, F.greatest(F.size(toks) - s, F.lit(0))
        )
        grams = F.zip_with(
            grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.filter(grams, lambda x: x.isNotNull())


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (array)."""
    toks = F.split(norm_text(col), " ")
    # short docs (< n tokens): single shingle = whole text
    grams = F.when(F.size(toks) >= n, ngram_array(toks, n)).otherwise(
        F.array(norm_text(col))
    )
    return F.array_distinct(grams)


def materialize_parquet(df: DataFrame, prefix: str = "mat_") -> DataFrame:
    """Write-then-read freeze for a multiply-consumed corpus-scale
    intermediate — the scale-safe replacement for ``localCheckpoint``:
    nothing is pinned in executor memory, an executor loss costs a
    partial re-read of replicated storage instead of fail-stopping the
    query, and every consumer scans compact columnar files instead of
    replaying the build subtree (which AQE's runtime stage reuse does
    NOT reliably share across differently-pruned branches — measured:
    the unmaterialized 4-consumer postings plan cost +35-90% CPU).

    The dir is per-call (never shared across queries or trials — a
    fresh invocation always recomputes from its inputs) and is
    process-lifetime scratch from :func:`session.process_scratch_dir`,
    since the returned frame reads it lazily.
    """
    tmp = process_scratch_dir(prefix)
    df.write.mode("overwrite").parquet(tmp)
    # the written schema, so the read runs no inference job; a file
    # source reads every field as nullable, as inference would
    return df.sparkSession.read.schema(df.schema).parquet(tmp)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "md5",
) -> DataFrame:
    """Exact dedup: keep the smallest id per normalized-text fingerprint.

    min() as the representative picker is deterministic and commutative —
    safe under any partitioning. Returns (fingerprint, keep_id, n_copies).

    ``hash_mode='xxhash64'`` is the production toggle for 100 TB runs:
    the groupBy shuffle key shrinks from a 32-char md5 string to an
    8-byte long (fingerprint column becomes bigint). md5 stays the
    default for SQL-oracle parity; a test pins both modes to identical
    (keep_id, n_copies) sets.
    """
    if hash_mode == "md5":
        fp = fingerprint_md5(F.col(text_col))
    elif hash_mode == "xxhash64":
        fp = F.xxhash64(norm_text(F.col(text_col)))
    else:
        raise ValueError(f"unsupported hash_mode {hash_mode!r}")
    return (
        df.select(
            fp.alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) inverted-index rows — distinct shingles per doc.

    Sized to output parallelism (functions._parallel.size_to_cores): the
    explode amplifies rows ~tokens-per-doc×, so a one-split input must
    not pin the shingle stage to one core."""
    from xml_to_parquet_spark.functions._parallel import size_to_cores

    df = size_to_cores(df)
    return df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    Plan: explode shingles → self-join on shingle (id_a < id_b) → count
    shared → join per-doc shingle counts → |A∩B| / (|A|+|B|-|A∩B|).
    Jaccard is a double division of exact ints → oracle-identical.
    """
    sh = shingle_table(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(
            sizes.select(
                F.col(id_col).alias("id_a"), F.col("n_shingles").alias("na")
            ),
            on="id_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("id_b"), F.col("n_shingles").alias("nb")
            ),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _minhash_wide(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    shingles: DataFrame | None,
) -> DataFrame:
    """(id, mh_0..mh_{K-1}) — the K permutation minima as ONE wide row
    per doc: explode → K agg-min expressions, map-side combined.

    Measured note (r4, 500k docs / 26M shingles): a zero-shuffle variant
    (hash the shingle ARRAY with `transform`, `array_min` per
    permutation) is NOT faster — higher-order-function lambdas evaluate
    interpreted, so the md5 pass alone costs more than this path's
    whole-stage-codegen hash PLUS its docs×1-wide-row shuffle.  Keep the
    hash inside codegen; spend the shuffle.
    """
    sh = (
        shingles
        if shingles is not None
        else shingle_table(df, text_col, id_col, n)
    ).withColumn("h", md5_hash32(F.col("shingle")))
    aggs = [
        F.min(
            (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)
        ).alias(f"mh_{i}")
        for i, a, b in _perm_constants()
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, perm_id, minhash) — K minhashes per doc.

    The K permutation minima are computed as K aggregate expressions over
    ONE pass of the exploded shingles (map-side combined), then melted to
    long form. No row multiplication by K: shuffle volume is docs × 1 row
    with K columns — at 100 TB this beats the naive shingles×K cross join
    by the factor K.
    """
    wide = _minhash_wide(df, text_col, id_col, n, shingles)
    stack_args = ", ".join(f"{i}, mh_{i}" for i, _, _ in _perm_constants())
    return wide.select(
        F.col(id_col),
        F.expr(
            f"stack({MINHASH_PERMS}, {stack_args}) as (perm_id, minhash)"
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = MINHASH_BANDS,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing any LSH band bucket.

    Band key = ordered concat of the band's minhashes; bucket join on
    (band, key). Returns distinct (id_a, id_b) with id_a < id_b.

    r4 shape: band keys are built straight from the wide per-doc minhash
    row (fixed perm order within each band) and melted with ONE
    posexplode_outer of ``bands`` keys per doc — the r3 version melted
    to docs×K rows and re-grouped them per band, two extra exchanges.
    posexplode_outer, deliberately: the plain generator makes Spark
    infer a ``size(...) > 0`` pre-filter that INLINES the whole
    key-building expression tree a second time (measured 10× at the
    500k-doc soak); the outer variant skips the filter, and the key
    array is never empty by construction.
    """
    rows_per_band = MINHASH_PERMS // bands
    wide = _minhash_wide(df, text_col, id_col, n, shingles)
    keys = [
        F.concat_ws(
            ",",
            *[
                F.concat_ws(":", F.lit(i), F.col(f"mh_{i}"))
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    band = wide.select(
        F.col(id_col),
        F.posexplode_outer(F.array(*keys)).alias("band", "band_key"),
    )
    # r13-opt note: a localCheckpoint of `band` was trialled (the self-
    # join references it twice) and measured NEUTRAL-to-worse with
    # bench-identical fresh-session timing — Spark's ReuseExchange
    # already computes the identical band subtree once at runtime, so
    # the checkpoint only added a materialization barrier. Left
    # unpersisted deliberately (OPTIMIZATION_r13.md).
    a = band.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = band.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-doc SimHash signature: bit j set iff sum over tokens of
    (+1 if token-hash bit j else -1) > 0.

    Pure column math over an exploded token table: one shuffle keyed by doc.

    ``bits`` up to 64 (r11): the operator-minus-fixture rung measured a
    32-bit code SATURATING near 500k docs (chance Hamming-≤-3 pairs
    start to dominate — SCALING.md "Operator-minus-fixture rung"), so
    the 100 TB contract is bits=64. Bits 0-31 vote from
    ``md5_hash32(tok)`` (default output byte-identical to pre-r11);
    bits 32-63 vote from an independently-salted second md5 word. Bit
    63's weight is the signed long MIN (two's complement), so the full
    64-bit signature packs into one BIGINT exactly like the audio/image
    fingerprints it shares the pigeonhole blocker with.
    """
    if not (1 <= bits <= 64):
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    from xml_to_parquet_spark.functions._parallel import size_to_cores

    df = size_to_cores(df)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", md5_hash32(F.col("tok")))
    if bits > 32:
        toks = toks.withColumn(
            "h_hi", md5_hash32(F.concat(F.col("tok"), F.lit(":hi")))
        )
    def _word(j: int):
        return F.col("h") if j < 32 else F.col("h_hi")

    votes = [
        F.sum(
            F.when(
                F.shiftright(_word(j), j % 32).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = None
    for j in range(bits):
        # 1 << 63 overflows a signed long literal; bit 63's two's-
        # complement weight is long MIN
        weight = -(1 << 63) if j == 63 else (1 << j)
        bit = F.when(F.col(f"v{j}") > 0, F.lit(weight)).otherwise(F.lit(0))
        sig = bit if sig is None else (sig + bit)
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 128,
) -> DataFrame:
    """Multi-word SimHash for the billion-doc regime: ``bits`` a
    multiple of 64, signature = ``array<bigint>`` of bits/64 words
    (little-endian word order: global bit j lives in word j//64 at
    in-word position j%64). Word 0 uses the same token-hash salts as
    :func:`simhash` at bits=64, so ``simhash_wide(bits=64)`` word 0 ==
    the one-BIGINT signature exactly (pinned by test); words ≥1 draw
    from independently-salted hash pairs. One shuffle keyed by doc,
    same as the narrow path — the vote aggregate just carries ``bits``
    columns (map-side combined)."""
    if bits % 64 != 0 or not (64 <= bits <= 256):
        raise ValueError(f"bits must be a multiple of 64 in [64, 256], got {bits}")
    from xml_to_parquet_spark.functions._parallel import size_to_cores

    words = bits // 64
    df = size_to_cores(df)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("tok"),
    )
    for w in range(words):
        lo_salt = "" if w == 0 else f":w{w}"
        hi_salt = ":hi" if w == 0 else f":w{w}:hi"
        toks = toks.withColumn(
            f"h_lo_{w}",
            md5_hash32(
                F.col("tok") if w == 0
                else F.concat(F.col("tok"), F.lit(lo_salt))
            ),
        ).withColumn(
            f"h_hi_{w}", md5_hash32(F.concat(F.col("tok"), F.lit(hi_salt)))
        )
    votes = [
        F.sum(
            F.when(
                F.shiftright(
                    F.col(f"h_{'lo' if (j % 64) < 32 else 'hi'}_{j // 64}"),
                    j % 32,
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    word_cols = []
    for w in range(words):
        sig = None
        for p in range(64):
            weight = -(1 << 63) if p == 63 else (1 << p)
            bit = F.when(
                F.col(f"v{w * 64 + p}") > 0, F.lit(weight)
            ).otherwise(F.lit(0))
            sig = bit if sig is None else (sig + bit)
        word_cols.append(sig.cast("long"))
    return agg.select(
        F.col(id_col), F.array(*word_cols).alias("simhash")
    )


def _wide_hamming(a: str, b: str) -> Column:
    """Hamming distance between two array<bigint> signatures."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x ^ y)), "
        f"0, (acc, v) -> acc + v)"
    ).cast("int")


def simhash_blocked_pairs_wide(
    sig: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 12,
    bits: int = 128,
) -> DataFrame:
    """Pigeonhole blocking over multi-word signatures — the bits>64
    twin of :func:`simhash_blocked_pairs`. The (max_hamming+1) chunks
    partition the GLOBAL bit range, so a chunk may straddle a word
    boundary; its key is then assembled from the two words' pieces
    (shiftrightunsigned on the low word, masked low bits of the high
    word shifted up). Pigeonhole needs EXACTLY max_hamming+1 nonempty
    chunks — k diffs can kill at most k chunks, leaving ≥1 agreeing —
    so chunking is boundary-based with floor widths (r11 review fix:
    the original ceil-width + early-break emitted only 13 chunks for
    k=13 at 128 bits, so a pair with one flip per chunk was silently
    missed; "a disjoint cover suffices" was wrong). Exact verification
    sums per-word popcounts."""
    words = bits // 64
    n_chunks = max_hamming + 1
    if n_chunks > bits:
        raise ValueError(
            f"pigeonhole needs max_hamming+1 <= bits chunks: "
            f"k={max_hamming}, bits={bits}"
        )
    if n_chunks < words:
        # a chunk would span >64 bits and not fit one BIGINT key; at
        # such tiny radii on a wide code, just join on whole words
        # (each chunk = one word): k diffs still leave >=1 word equal
        # whenever k < words
        n_chunks = words
    bounds = [c * bits // n_chunks for c in range(n_chunks + 1)]
    chunk_keys = []
    for c in range(n_chunks):
        s, e = bounds[c], bounds[c + 1] - 1
        w0, w1 = s // 64, e // 64
        lo = F.element_at(F.col("simhash"), w0 + 1)
        if w0 == w1:
            mask = (1 << (e - s + 1)) - 1
            # at full-word width the mask is 2^64-1: skip the AND (the
            # shifted value is already the whole word)
            key = F.shiftrightunsigned(lo, s % 64)
            if (e - s + 1) < 64:
                key = key.bitwiseAND(F.lit(mask))
        else:
            lo_bits = 64 - (s % 64)
            hi = F.element_at(F.col("simhash"), w1 + 1)
            hi_bits = (e % 64) + 1
            key = F.shiftrightunsigned(lo, s % 64).bitwiseOR(
                F.shiftleft(
                    hi.bitwiseAND(F.lit((1 << hi_bits) - 1)), lo_bits
                )
            )
        chunk_keys.append(
            F.struct(F.lit(c).alias("chunk"), key.alias("ckey"))
        )
    keyed = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.array(*chunk_keys)).alias("ck"),
    ).select(
        id_col,
        "simhash",
        F.col("ck.chunk").alias("chunk"),
        F.col("ck.ckey").alias("ckey"),
    )
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
        "chunk", "ckey",
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
        "chunk", "ckey",
    )
    return (
        a.join(b, on=["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", _wide_hamming("sig_a", "sig_b"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash_neardup_pairs_wide(
    sig: DataFrame, id_col: str = "doc_id", max_hamming: int = 12
) -> DataFrame:
    """All-pairs brute-force twin of :func:`simhash_blocked_pairs_wide`
    (test oracle; small data only)."""
    a = sig.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a")
    )
    b = sig.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", _wide_hamming("sig_a", "sig_b"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_bits_for(
    n_docs: int, max_hamming: int = 3, chance_pair_budget: float = 0.01
) -> int:
    """Smallest supported SimHash width (32, 64 or 128) whose EXPECTED count
    of chance pairs — unrelated docs landing within Hamming ≤ k purely
    by birthday collision — stays under ``chance_pair_budget · n_docs``.

    The r11 operator-minus-fixture rung measured the failure mode this
    guards (SCALING.md "Operator-minus-fixture rung"): at 500k docs a
    32-bit code emitted 22.25M pairs where ~8.3M were real — the
    P(chance) = Σ_{i≤k} C(b,i) / 2^b tail dominated. Expected chance
    pairs = C(n,2)·P; the 0.01·n default tolerates one spurious
    candidate per 100 docs (each still exact-verified downstream —
    chance pairs cost candidate volume, never correctness).

    The uniform-hash P is a LOWER bound on real corpora: signatures
    cluster (shared token structure biases the votes), and the rung
    measured ~70× the birthday estimate at 500k docs / 32 bits. The
    budget therefore errs conservative — the formula already flips to
    64 bits at ~20k docs for k=3, far below the measured saturation
    point.
    """
    from math import comb

    if n_docs < 2:
        return 32  # no pairs possible; cheapest width is correct
    for bits in (32, 64, 128):
        # evaluate at the width-equivalent ANGULAR radius (see
        # simhash_pairs_auto): k scales with bits so both widths cut at
        # the same cosine angle, and the chance tail must too
        k = max_hamming * bits // 32
        p = sum(comb(bits, i) for i in range(k + 1)) / 2.0**bits
        expected = comb(max(n_docs, 2), 2) * p
        if expected <= chance_pair_budget * n_docs:
            return bits
    return 128  # ~1e13 docs at k=3-equivalent before 128 saturates


def simhash_pairs_auto(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_docs: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with the code width picked from the CORPUS
    SIZE (the ``fuzzy_pairs_auto`` / ``ann_topk_auto`` idiom applied to
    code saturation): a count chooses via :func:`simhash_bits_for`
    (32-bit saturates near 500k docs at k=3 — measured, SCALING.md),
    then signatures and the pigeonhole blocked join run at that width.

    ``n_docs`` (ADVICE r11): the width-selection count used to compute
    the upstream plan once and the signature pass then computed it
    AGAIN — on an expensive unpersisted pipeline (exactly the corpus
    sizes this function targets) that doubles the dominant cost. Pass
    the known corpus size to skip the count entirely; when it is
    unknown, only the two columns the operator reads (``id_col``,
    ``text_col``) are eagerly local-checkpointed first (ADVICE r12:
    materializing every input column traded the recompute for executor
    local-DISK pressure on wide billion-doc inputs — where the old
    double-compute merely ran slower), so the count and the signature
    pass both read the slim materialized rows and the upstream lineage
    runs exactly once (checkpoint blocks are reclaimed by the context
    cleaner when the plan is dropped).

    CAUTION (ADVICE r12): ``n_docs`` is trusted verbatim — a stale or
    low-by-10× value selects an under-width code whose chance-pair tail
    silently EXPLODES candidate volume at scale (recall is unaffected —
    candidates are exact-verified downstream — but the blocked join can
    saturate; see the 500k-docs/32-bit rung in SCALING.md). When the
    corpus size is not cheaply known to within ~2×, omit it and pay the
    count.

    ``max_hamming`` is the 32-BIT-EQUIVALENT threshold: SimHash Hamming
    distance is ANGULAR — E[hamming] = bits·θ/π for cosine angle θ — so
    a fixed bit radius at doubled width means a ~2× stricter similarity
    cut. Measured on the docs100 rung (SCALING.md): raw k=3 at 64 bits
    returned 1.1× the 5k-doc pair count over 100× docs (threshold
    silently tightened); the scaled radius k·bits/32 restores the cut
    angle and measures 33× (2.74M pairs, <1 expected chance pair) — the
    residual gap vs 100× is the 64-bit distance distribution
    CONCENTRATING around the same mean angle (σ/mean ∝ 1/√bits), i.e.
    fewer borderline pairs admitted by luck: a precision gain, not a
    recall bug, and exactly why wider codes are the scale contract.
    The output remains CANDIDATES for an exact downstream check, which
    is how every caller in this repo consumes Hamming pairs."""
    if n_docs is None:
        df = df.select(id_col, text_col).localCheckpoint(eager=True)
        n = df.count()
    else:
        n = n_docs
    bits = simhash_bits_for(n, max_hamming=max_hamming)
    k = max_hamming * bits // 32  # angular threshold, width-equivalent
    if bits > 64:  # billion-doc regime: multi-word signatures
        sig = simhash_wide(df, text_col=text_col, id_col=id_col, bits=bits)
        return simhash_blocked_pairs_wide(
            sig, id_col=id_col, max_hamming=k, bits=bits
        )
    sig = simhash(df, text_col=text_col, id_col=id_col, bits=bits)
    return simhash_blocked_pairs(
        sig, id_col=id_col, max_hamming=k, bits=bits
    )


def simhash_neardup_pairs(
    sig: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) ≤ max_hamming — ALL-PAIRS
    small-data variant (fine to ~1e4 docs, e.g. within-partition refine).

    The scale path is :func:`simhash_blocked_pairs`, which finds the exact
    same pairs without ever forming the cross product.
    """
    a = sig.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"))
    b = sig.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_blocked_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """Exact Hamming-≤-k pairs via PIGEONHOLE BLOCKING — the scale path.

    The b-bit signature splits into (max_hamming+1) chunks; any pair within
    Hamming distance ``max_hamming`` must agree exactly on ≥1 chunk, so an
    equi-join keyed on (chunk_id, chunk_value) finds every qualifying pair
    (then exact bit_count verifies). Work ∝ docs sharing a chunk value —
    the SimHash analogue of MinHash-LSH banding; no cross product anywhere.
    Identical output contract to :func:`simhash_neardup_pairs`.

    Chunking is BOUNDARY-based (r11 review fix): exactly max_hamming+1
    chunks with floor widths and the remainder spread over the leading
    chunks. The previous ceil-width scheme shifted by c·width, which at
    k ≥ bits/width wrapped mod 64 in the JVM (shift 65 ≡ shift 1) and
    produced aliased, non-constant keys — pigeonhole completeness
    silently broke for radii ≥ 14 at bits=64, reachable once
    ``simhash_pairs_auto`` started doubling user thresholds.
    """
    n_chunks = max_hamming + 1
    if n_chunks > bits:
        raise ValueError(
            f"pigeonhole needs max_hamming+1 <= bits chunks: "
            f"k={max_hamming}, bits={bits}"
        )
    bounds = [c * bits // n_chunks for c in range(n_chunks + 1)]
    chunk_cols = []
    for c in range(n_chunks):
        s, wdt = bounds[c], bounds[c + 1] - bounds[c]
        key = F.shiftrightunsigned(F.col("simhash"), s)
        # unsigned shift: at bits=64 (image dHash) the sign bit is
        # data, and an arithmetic shift would smear it into the high
        # chunk keys; the top chunk of a 64-bit code needs no mask
        if s + wdt < 64:
            key = key.bitwiseAND(F.lit((1 << wdt) - 1))
        chunk_cols.append(
            F.struct(F.lit(c).alias("chunk"), key.alias("ckey"))
        )
    chunks = F.array(*chunk_cols)
    keyed = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(chunks).alias("ck")
    ).select(
        id_col,
        "simhash",
        F.col("ck.chunk").alias("chunk"),
        F.col("ck.ckey").alias("ckey"),
    )
    # r13-opt note: a localCheckpoint of `keyed` was trialled and
    # reverted — with AQE, even eager=False localCheckpoint submits the
    # upstream shuffle stages at CONSTRUCTION time, which broke the
    # pinned zero-jobs-at-construction contract of simhash_pairs_auto
    # (test_simhash_pairs_auto_n_docs_hint...), and honest timing showed
    # ~neutral cost (ReuseExchange already shares the signature
    # exchange between the two self-join sides).
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
        "chunk", "ckey",
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
        "chunk", "ckey",
    )
    return (
        a.join(b, on=["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_distance: int = 2,
) -> DataFrame:
    """DEPRECATED legacy blocker — use :func:`fuzzy_pairs_auto` (which
    dispatches to the lossless symdel / q-gram blockers) instead; this
    length-bucket variant survives only for comparison benchmarks and
    emits a ``DeprecationWarning``.

    Edit-distance near-match pairs (id_a < id_b, levenshtein ≤ k) via
    LENGTH BLOCKING.

    Pigeonhole: levenshtein(a,b) ≤ k ⇒ |len(a)−len(b)| ≤ k, so each string
    only needs to meet strings whose length bucket (width k+1) is its own
    or an adjacent one. One side replicates into its 3 candidate buckets
    (3× map-side blowup), the join is a plain equi-join on the bucket id,
    and exact levenshtein verifies — no cross product anywhere; work ∝
    strings sharing a length neighborhood. Both engines compute identical
    integer distances, so the result is exactly oracle-checkable.

    LIMITATION (measured): length blocking only prunes when lengths VARY.
    A corpus of uniform-length strings (e.g. fixed-format ids) collapses
    into one bucket and the join degenerates to all-pairs — at scale,
    pre-block such data on a second cheap key (q-gram sample, prefix
    class) before calling this, or bound the candidate set first.
    """
    import warnings

    warnings.warn(
        "fuzzy_pairs (length blocking) is deprecated; use "
        "fuzzy_pairs_auto / fuzzy_pairs_symdel / fuzzy_pairs_qgram",
        DeprecationWarning,
        stacklevel=2,
    )
    width = max_distance + 1
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("s")
    ).withColumn("blk", F.floor(F.length("s") / width).cast("int"))
    probes = base.select(
        F.col("id"), F.col("s"),
        F.explode(
            F.array(
                F.col("blk") - 1, F.col("blk"), F.col("blk") + 1
            )
        ).alias("blk"),
    )
    a = probes.select(
        F.col("id").alias("id_a"), F.col("s").alias("s_a"), "blk"
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"), "blk"
    )
    return (
        a.join(b, on="blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "distance",
            F.levenshtein(F.col("s_a"), F.col("s_b")).cast("int"),
        )
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "distance")
        .distinct()
    )


def fuzzy_pairs_qgram(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_distance: int = 2,
    q: int = 2,
    num_partitions: int | None = None,
) -> DataFrame:
    """Edit-distance near-match pairs (id_a < id_b, levenshtein ≤ k) via
    POSITIONAL Q-GRAM PREFIX FILTERING — the scale path for corpora where
    plain length blocking collapses (uniform-length ids, fixed-format
    keys). Lossless: ED-Join's prefix-filter theorem (Xiao/Wang/Lin,
    VLDB'08; public algorithm), so the result set equals the naive
    all-pairs answer exactly and stays oracle-checkable.

    Why it works (all pigeonhole, no probabilities):

    - An edit destroys at most ``q`` of a string's positional q-grams, so
      lev(a,b) ≤ k ⇒ a and b share at least |G| − k·q gram occurrences,
      each matching at a position shifted by at most k.
    - Rank every gram occurrence by GLOBAL frequency (rarest first, ties
      by gram then position — one total order both sides share). Keeping
      only each string's first k·q+1 occurrences ("prefix"), any pair
      within distance k still shares ≥ 1 position-compatible prefix gram.
    - So candidates = equi-join on (gram, position block) over prefixes
      only, blocks of width k+1 with the 3-block probe explosion (same
      trick as the length/SimHash blockers); exact levenshtein verifies.

    The frequency ranking is what defeats the uniform-id worst case: the
    shared format ("Customer#0000…") yields ubiquitous grams that never
    enter a prefix, while the distinguishing digits yield rare grams that
    spread candidates across ~|Σ|^q × positions buckets. Measured at
    sf0.1 (15 000 uniform-length names, the documented fuzzy_pairs
    worst case): all-pairs 242 s → ~4 s uncapped, identical output.

    Completeness edge: if BOTH strings have ≤ k·q grams (len ≤ q·(k+1)−1,
    incl. empty strings) the count bound is vacuous, so such short strings
    go through a bounded all-pairs pool (they can only match each other —
    |len diff| ≤ k). Pairs with one short side are covered by the main
    path (the short side's prefix is ALL its grams).

    Scale notes: gram frequency is one map-side-combinable groupBy; the
    per-string prefix rank is a window partitioned by id (cardinality =
    corpus size); the candidate join shuffles on (gram, block) where the
    frequency ranking itself bounds bucket skew. Work ∝ candidate pairs,
    never all-pairs. Cites reference README.md:137-166 (dedup intent);
    the reference has no fuzzy-matching surface at all — parity-plus.
    """
    k = max_distance
    if q < 2:
        raise ValueError(
            "fuzzy_pairs_qgram requires q >= 2 (the prefix-filter bound "
            "is proven and tested for q-grams; q=1 degenerates to "
            "per-character buckets)"
        )
    prefix_len = q * k + 1
    short_max = q * (k + 1) - 1  # |grams| ≤ k·q ⇔ len ≤ this
    width = k + 1

    base = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("s"))
        .filter(F.col("s").isNotNull())
        .withColumn("len", F.length("s"))
    )

    # --- short pool: strings whose gram count voids the filter bound ---
    shorts = base.filter(F.col("len") <= F.lit(short_max))
    sa = shorts.select(
        F.col("id").alias("id_a"), F.col("s").alias("s_a"),
        F.col("len").alias("len_a"),
    )
    sb = shorts.select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"),
        F.col("len").alias("len_b"),
    )
    short_pairs = (
        sa.join(
            sb,
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= k),
        )
        # thresholded levenshtein early-exits the DP at k (returns -1 past
        # it) — O(k·len) per pair instead of O(len²)
        .withColumn(
            "distance",
            F.levenshtein(F.col("s_a"), F.col("s_b"), k).cast("int"),
        )
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )

    # --- main path: positional grams → global freq rank → prefix join ---
    grams = base.filter(F.col("len") >= q).select(
        "id",
        "s",
        "len",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(s)-{q}+1),"
                f" p -> struct(substring(s, p, {q}) AS g, p AS pos))"
            )
        ).alias("gp"),
    ).select(
        "id", "s", "len",
        F.col("gp.g").alias("g"), F.col("gp.pos").alias("pos"),
    )
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("id").orderBy("cnt", "g", "pos")
    )
    prefix = (
        grams.join(freq, on="g")
        .withColumn("rk", rk)
        .filter(F.col("rk") <= prefix_len)
        .select("id", "s", "len", "g", F.col("pos"))
        # deliberately NOT cached: both join sides recompute this pipeline,
        # but its exchanges (freq agg, window) are identical subplans that
        # Spark's ReuseExchange dedupes, and leaving it uncached means the
        # operator leaves zero cache residue on a shared session (measured:
        # caching saved nothing at sf0.1)
    )
    blk = F.floor(F.col("pos") / width).cast("int")
    side_b = prefix.select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"),
        F.col("len").alias("len_b"),
        "g", F.col("pos").alias("pos_b"), blk.alias("blk"),
    )
    side_a = prefix.select(
        F.col("id").alias("id_a"), F.col("s").alias("s_a"),
        F.col("len").alias("len_a"),
        "g", F.col("pos").alias("pos_a"),
        F.explode(F.array(blk - 1, blk, blk + 1)).alias("blk"),
    )
    # The prefix tables are TINY relative to the join output (k·q+1 rows
    # per doc in, up to millions of candidate pairs out), so AQE's
    # coalescing — keyed on shuffle INPUT bytes — would collapse this
    # join to ~1 partition and serialize the whole verify phase onto one
    # core (measured 14 s for an 0.9 s join at sf0.1). An explicit
    # user-specified repartition on the join keys is exempt from AQE
    # coalescing, adds no extra exchange (it IS the join distribution),
    # and keeps the verify stage wide.
    nparts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    side_a = side_a.repartition(nparts, "g", "blk")
    side_b = side_b.repartition(nparts, "g", "blk")
    main_pairs = (
        side_a.join(side_b, on=["g", "blk"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= k)
            # exact position window (blocks only guarantee |Δ| ≤ 2k+1);
            # the guaranteed match shifts by ≤ k, so this is lossless
            & (F.abs(F.col("pos_a") - F.col("pos_b")) <= k)
        )
        # NO pre-verify distinct: deduping candidates first would shuffle
        # tens of millions of wide (id, string) rows; thresholded
        # levenshtein is O(k·len) per row and pipelines inside the join
        # stage, so verifying duplicates redundantly and deduping the
        # (tiny) survivor set is strictly cheaper.
        .withColumn(
            "distance",
            F.levenshtein(F.col("s_a"), F.col("s_b"), k).cast("int"),
        )
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )
    return main_pairs.unionByName(short_pairs).distinct()


def fuzzy_pairs_symdel(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_distance: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Edit-distance near-match pairs via SYMMETRIC-DELETE neighborhoods
    (the SymSpell construction, public algorithm) — the scale path for
    SHORT KEYS at k ≤ 2 (names, codes, ids).

    Lossless cover: if lev(a,b) ≤ k, each edit in an optimal script can be
    charged one deletion on each side (substitution → delete the mismatched
    char from both; indel → delete the extra char from the longer side), so
    a and b share an EXACT common string reachable with ≤ k deletions from
    each. Candidates = equi-join on deletion variants; thresholded
    levenshtein verifies (false positives like "ab"/"ba" are filtered, no
    false negatives exist). Length filter |Δlen| ≤ k prunes cheaply.

    Why this beats q-gram prefix filtering on uniform-format keys: gram
    blocking degrades as Σ f_g² when the gram key-space saturates (fixed
    alphabet × positions), measured 8×10⁸ candidates on 150k same-format
    names. Deletion variants are (len choose ≤k) per string — near-unique
    keys, so buckets hold only genuine near-neighbors and candidate volume
    tracks OUTPUT size: same 150k-name soak ran 140 s (q-gram) → ~4 s.

    Cost model: row blowup = Σ_{j≤k} C(len, j) variants per string (19 for
    len 18 / k=1; ~172 for k=2) with variant strings ~len bytes — right
    for short keys, wrong for documents (len² bytes/doc at k=1); use
    :func:`fuzzy_pairs_qgram` there. k ≥ 3 rejected (variant blowup is
    C(len,3)ⁿ; the q-gram path handles it).

    Exact-duplicate classes: members share ALL variants, so candidate
    multiplicity is ~(len+1)× per duplicate pair — the pre-verify
    ``distinct`` keeps the levenshtein stage at one eval per pair (the
    m²-pair output of an m-way duplicate class is demanded by the output
    contract itself).
    """
    k = max_distance
    if k > 2:
        raise ValueError(
            "fuzzy_pairs_symdel supports max_distance <= 2 (variant count "
            "is C(len, k)); use fuzzy_pairs_qgram for larger k"
        )
    base = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("s"))
        .filter(F.col("s").isNotNull())
        .withColumn("len", F.length("s"))
    )
    del1 = (
        "transform(sequence(1, length(s)),"
        " p -> concat(substring(s, 1, p-1), substring(s, p+1, length(s))))"
    )
    variant_arrays = [F.array(F.col("s")), F.expr(del1)]
    if k == 2:
        variant_arrays.append(
            F.expr(
                "flatten(transform(sequence(1, length(s)),"
                " p -> transform(sequence(p+1, greatest(length(s), p+1)),"
                " q -> CASE WHEN q <= length(s) THEN"
                " concat(substring(s, 1, p-1), substring(s, p+1, q-p-1),"
                " substring(s, q+1, length(s))) END)))"
            )
        )
    # r14-opt (guide §2.3 — shuffle keys, not payloads): the blocking key
    # is the 8-byte xxhash64 of the variant, not the variant string —
    # the candidate shuffle carries ~8 bytes instead of a near-key-length
    # string per variant row. Collisions are HARMLESS here: a hash
    # collision can only add a candidate pair, and the exact bounded
    # levenshtein verify drops it — no certificate needed, output
    # identical by construction.
    variants = base.select(
        "id", "s", "len",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.concat(*variant_arrays), lambda x: x.isNotNull()
                )
            )
        ).alias("v"),
    ).select("id", "s", "len", F.xxhash64("v").alias("v"))
    # r13-opt note: a localCheckpoint of `variants` was measured (in-
    # session A/B at sf0.1): wall flat, CPU slightly WORSE — storing the
    # exploded variant strings costs more than the second interpreted
    # HOF pass. Left unpersisted deliberately.
    nparts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # explicit partition count for the same reason as fuzzy_pairs_qgram:
    # AQE sizes on shuffle input bytes and would under-partition the
    # verify stage behind this join
    va = variants.select(
        F.col("id").alias("id_a"), F.col("s").alias("s_a"),
        F.col("len").alias("len_a"), "v",
    ).repartition(nparts, "v")
    vb = variants.select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"),
        F.col("len").alias("len_b"), "v",
    ).repartition(nparts, "v")
    return (
        va.join(vb, on="v")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= k)
        )
        .select("id_a", "s_a", "id_b", "s_b")
        .distinct()
        .withColumn(
            "distance",
            F.levenshtein(F.col("s_a"), F.col("s_b"), k).cast("int"),
        )
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )


def fuzzy_pairs_auto(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_distance: int = 2,
    num_partitions: int | None = None,
    symdel_max_len: int = 64,
) -> DataFrame:
    """Pick the right lossless fuzzy-matching blocker from the data shape.

    One tiny agg probes the 95th-percentile string length:
    - short keys (p95 ≤ ``symdel_max_len``) and k ≤ 2 →
      :func:`fuzzy_pairs_symdel` (deletion-neighborhood blowup is
      Σ C(len, ≤k) per string — cheap for keys, quadratic-in-len for
      documents);
    - otherwise → :func:`fuzzy_pairs_qgram` (prefix volume is a flat
      k·q+1 rows per string regardless of length).

    All variants return the identical exact pair set, so the dispatch is
    purely a physical-plan decision — the same contract Catalyst applies
    when it picks a join strategy.
    """
    if max_distance <= 2:
        p95 = (
            df.select(
                F.percentile_approx(
                    F.length(F.col(text_col)), 0.95
                ).alias("p")
            ).collect()[0]["p"]
            or 0
        )
        if p95 <= symdel_max_len:
            return fuzzy_pairs_symdel(
                df, text_col, id_col, max_distance, num_partitions
            )
    return fuzzy_pairs_qgram(
        df, text_col, id_col, max_distance, num_partitions=num_partitions
    )


def dedup_against_corpus(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental batch dedup: keep only new docs whose normalized-text
    fingerprint does NOT already exist in the reference corpus — the
    "don't retrain on seen data" step of a continuously-ingesting pipeline.

    Anti-join on md5 fingerprints. At scale the corpus side is a
    fingerprint column (16 bytes/doc); the join is a shuffle anti-join on
    the hash (or broadcast when the corpus index fits — pass a pre-distinct
    fingerprint table to reuse across batches). New side carries only
    (id, fp) through the join; payload columns re-attach by id afterwards
    if needed.
    """
    nf = new.select(
        F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp")
    )
    cf = corpus.select(
        fingerprint_md5(F.col(text_col)).alias("fp")
    ).distinct()
    return nf.join(cf, on="fp", how="left_anti").select(id_col)


def dedup_clusters(
    pairs: DataFrame,
    iterations: int = 5,
    a_col: str = "id_a",
    b_col: str = "id_b",
    on_unconverged: str = "raise",
) -> DataFrame:
    """Duplicate clustering: connected components over a near-dup pair list
    via bounded min-label propagation → (doc_id, cluster_id = min id
    reachable within ``iterations`` hops).

    This is the step AFTER candidate generation in a production dedup
    pipeline (LSH pairs → clusters → keep one doc per cluster). Each
    iteration is one equi-join + one min-groupBy — both map-side
    combinable; total work = iterations × |edges|. Plain propagation
    converges in graph-diameter hops; near-dup graphs are overwhelmingly
    tiny cliques/chains, so a small fixed ``iterations`` reaches the exact
    fixpoint in practice (and a fixed count keeps the result
    SQL-reproducible — the oracle runs the same k steps). For adversarial
    long-path graphs, switch to large-star/small-star contraction
    (O(log diameter) rounds of the same join shape).

    Convergence guardrail (r3 VERDICT #8): the per-round fixpoint probe
    tells us whether propagation PROVABLY converged (some round changed
    nothing). A graph that reaches fixpoint exactly at round k is
    complete but not yet provable, so when the loop exhausts
    ``iterations`` without proof, ONE extra verification round runs: if
    it changes nothing the k-round labels are returned as converged;
    if it still moves labels, ``on_unconverged`` decides:
    ``"raise"`` (default) raises ValueError naming the fix;
    ``"star"`` transparently re-runs the input through
    :func:`dedup_clusters_star` (exact CC at any diameter — identical
    labels to converged propagation); ``"return"`` opts in to the
    bounded-propagation labels (what the k-step SQL oracle replays).

    Iterative-plan hygiene: each iteration references the previous labels
    TWICE (self union + join), so an unmaterialized chain recomputes the
    upstream candidate generation 2^k times — and the uncut LOGICAL plan
    grows exponentially too. ``localCheckpoint(eager=True)`` per round
    materializes the tiny label table AND truncates the lineage (the
    GraphX-style iterative pattern).

    r14-opt (VERDICT r13 item 2 — 32-core anti-scaling): (a) the edge
    doubling is a one-pass ``inline`` instead of ``union(pairs,
    reversed)`` — the union evaluated the candidate-generation subtree
    above its last shared exchange twice; (b) per-round shuffle
    partitions are scoped to the STATE size (one partition per ~2M
    label/edge rows, capped by the session setting) instead of
    inheriting the core-count-sized session default — per-round state
    is near-dup-graph-sized, so core-proportional task counts only
    multiply scheduler/codegen overhead while the data doesn't grow
    (guide §2/§5). At cluster scale the derived count grows with the
    edge count, not the executor count.
    """
    spark = pairs.sparkSession
    sym = (
        pairs.select(
            F.expr(
                f"inline(array(named_struct('src', {a_col}, 'dst', {b_col}),"
                f" named_struct('src', {b_col}, 'dst', {a_col})))"
            )
        )
        .localCheckpoint(eager=True)
    )
    # metadata-cheap on the materialized blocks; sizes the loop's
    # shuffles (the checkpointed blocks keep their natural partitioning
    # — only the per-round exchange width shrinks)
    n_edges = sym.count()
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    state_parts = max(1, min(sess_parts, n_edges // 2_000_000 + 1))
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    if on_unconverged not in ("raise", "star", "return"):
        raise ValueError(
            f"on_unconverged must be raise|star|return, got {on_unconverged!r}"
        )
    def _round(lbl: DataFrame) -> tuple[DataFrame, tuple]:
        neigh = sym.join(
            lbl, on=sym["dst"] == lbl["node"]
        ).select(F.col("src").alias("node"), "label")
        nxt = (
            lbl.union(neigh)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        # fixpoint probe: propagation is monotone, so once labels stop
        # changing every remaining round is a no-op — the result is
        # IDENTICAL to running all `iterations` rounds (which is what
        # the oracle replays). The probe reads the tiny just-
        # checkpointed label table; bit_xor of row hashes is order-
        # independent and rows are distinct per node.
        chk = nxt.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("node", "label")).alias("h"),
        ).collect()[0]
        return nxt, (chk["n"], chk["h"])

    with scoped_conf(spark, "spark.sql.shuffle.partitions", state_parts):
        prev_chk = None
        converged = False
        for _ in range(iterations):
            labels, cur = _round(labels)
            if cur == prev_chk:  # early exit on proven fixpoint
                converged = True
                break
            prev_chk = cur
        if not converged:
            # one extra verification round: fixpoint-at-round-k is
            # complete but unproven; only a round that still MOVES
            # labels is partial
            _, cur = _round(labels)
            converged = cur == prev_chk
    if not converged:
        if on_unconverged == "raise":
            raise ValueError(
                f"dedup_clusters: labels still changing after "
                f"{iterations} propagation rounds (graph diameter likely "
                f"exceeds the bound) — raise `iterations`, pass "
                f"on_unconverged='star', or call dedup_clusters_star for "
                f"exact any-diameter components"
            )
        if on_unconverged == "star":
            return dedup_clusters_star(pairs, a_col=a_col, b_col=b_col)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_apply(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Apply near-dup clustering to a corpus: keep ONE representative per
    cluster (the min-id member — ``cluster_id`` by construction of
    :func:`dedup_clusters`) plus every unclustered doc.

    The drop list (cluster members ≠ representative) is small relative to
    the corpus but GROWS with it (≈ dup_rate × N ids at 100 TB), so it
    carries no broadcast hint: AQE broadcasts the anti-join side while it
    fits and degrades to a keyed shuffle join beyond that — a forced hint
    would OOM exactly when dedup matters most. This completes the dedup
    pipeline: candidates → clusters → filtered corpus.
    """
    drop = clusters.filter(F.col("cluster_id") != F.col(id_col)).select(id_col)
    return df.join(drop, on=id_col, how="left_anti")


def dedup_apply_best(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Quality-aware dedup apply: keep the HIGHEST-``score_col`` member of
    each cluster (ties → min id), plus every unclustered doc.

    :func:`dedup_apply` keeps the min-id representative — fine when
    members are interchangeable, wrong for training-data curation where
    near-dup groups should retain their best exemplar (longest, highest
    quality score, newest).  ``clusters`` is any (id, cluster_id) frame —
    :func:`dedup_clusters` / :func:`dedup_clusters_star` outputs compose
    directly; ``df`` must carry ``score_col``.

    Scale: one left join on id + one window shuffle on the effective
    cluster key; ``row_number() = 1`` plans as WindowGroupLimit (top-1
    per group pushed below the sort), so per-group state is O(1), not
    O(group size).  Unclustered docs get singleton keys (their own id) —
    no skewed null partition.
    """
    from pyspark.sql import Window

    labeled = df.join(
        clusters.select(id_col, cluster_col), on=id_col, how="left"
    )
    # Two-part key disambiguates the label and id domains: with numeric
    # cluster labels (e.g. 0..N-1 indices) an unclustered doc whose id
    # equals a label must NOT merge into that cluster (round-4 ADVICE).
    eff = F.coalesce(
        F.col(cluster_col).cast("string"), F.col(id_col).cast("string")
    )
    w = Window.partitionBy(F.col(cluster_col).isNull(), eff).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", cluster_col)
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node's >-neighbors reconnect to its min
    neighbor (Kiveris et al., "Connected Components in MapReduce")."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: each node's <-neighbors (and itself) reconnect to
    the minimum of that neighborhood."""
    canon = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = canon.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (
        canon.join(mins, on="u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return (
        nbr_edges.union(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def dedup_clusters_star(
    pairs: DataFrame,
    max_rounds: int = 10,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Connected components via ALTERNATING STAR CONTRACTION — the
    adversarial-diameter scale path for duplicate clustering.

    :func:`dedup_clusters`' plain min-label propagation needs
    graph-diameter rounds (fine for near-dup cliques/chains, unbounded in
    the worst case). Large-star/small-star contraction (Kiveris et al.,
    MapReduce CC) converges in O(log² n) rounds for ANY graph: each round
    is two groupBy-min + join passes over the shrinking edge list, with an
    early exit when the edge set stops changing (checksum compare — the
    materialization job each round doubles as the convergence probe).

    Output contract matches :func:`dedup_clusters`: (doc_id, cluster_id =
    component minimum), one row per node appearing in ``pairs``.
    """
    # localCheckpoint (not just persist): each round's plan embeds the
    # previous one several times over, so an uncut lineage grows
    # exponentially in rounds — checkpointing truncates the plan itself.
    # Cluster note: localCheckpoint stores blocks on executors (lost on
    # executor failure); long-running production jobs should
    # sc.setCheckpointDir(...) and use reliable .checkpoint() instead —
    # same plan effect, durable storage.
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # per-round shuffles sized to the (shrinking) edge set, not the core
    # count — see dedup_clusters
    n_edges = edges.count()
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    state_parts = max(1, min(sess_parts, n_edges // 2_000_000 + 1))
    # no checkpoint: consumed exactly once (final labeling join) and its
    # lineage is one level above the already-checkpointed edge table —
    # an eager checkpoint here was one extra job per call for nothing
    all_nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )

    with scoped_conf(spark, "spark.sql.shuffle.partitions", state_parts):
        prev_chk = None
        for _ in range(max_rounds):
            edges = _small_star(_large_star(edges)).localCheckpoint(
                eager=True
            )
            # bit_xor: order-independent, overflow-free (edge rows are
            # distinct, so XOR cancellation of duplicates cannot occur)
            chk = edges.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("h"),
            ).collect()[0]
            cur = (chk["n"], chk["h"])
            if cur == prev_chk:
                break
            prev_chk = cur

    # converged edges are stars (node > root): label = min root per node
    labeled = edges.groupBy("u").agg(F.min("v").alias("label")).select(
        F.col("u").alias("node"), "label"
    )
    out = (
        all_nodes.join(labeled, on="node", how="left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )
    return out


def ngram_jaccard_via_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.1,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The 100 TB dedup pipeline: MinHash-LSH candidate generation followed
    by exact n-gram Jaccard verification on candidates only.

    Replaces the quadratic inverted-index self-join of
    :func:`ngram_jaccard_pairs` with work proportional to
    (docs × K) + (candidate pairs × shingles). Same output contract.

    The shingle explode feeds four consumers (candidate generation, sizes,
    both verify-join sides). By default it is embedded UNPERSISTED in the
    returned plan — recomputed per consumer (map-only, no extra shuffle)
    but leaving zero cache residue on a shared session. A caller running
    this hot can pass ``shingles=shingle_table(df, ...).persist()`` and
    unpersist after its action completes; at 100 TB, materialize the
    shingle table to parquet instead (executor storage can't hold it, and
    LRU churn beats recompute only for small corpora). r13-opt note: a
    default lazy localCheckpoint of the shingle table was trialled and
    measured NEUTRAL in CPU / slightly worse in wall with bench-identical
    fresh-session timing (ReuseExchange already shares the identical
    aggregate exchanges at runtime); kept unpersisted.
    """
    sh = (
        shingles
        if shingles is not None
        else shingle_table(df, text_col, id_col, n)
    )
    cand = minhash_lsh_candidates(df, text_col, id_col, n, shingles=sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        cand.join(sa, on="id_a")
        .join(sb, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("na")),
            on="id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("nb")),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# Oracle SQL builders (DuckDB dialect of the exact same computations)
# --------------------------------------------------------------------------

NORM_SQL = "lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"


def shingle_sql(table: str, id_col: str = "doc_id", n: int = 3) -> str:
    """DuckDB CTE body producing (id, shingle) distinct rows."""
    norm = NORM_SQL.format(col="text")
    return f"""
SELECT {id_col}, unnest(list_distinct(
  CASE WHEN len(toks) >= {n}
       THEN list_transform(range(len(toks) - {n} + 1),
                           i -> array_to_string(toks[i+1:i+{n}], ' '))
       ELSE [norm] END)) AS shingle
FROM (SELECT {id_col}, {norm} AS norm,
             string_split({norm}, ' ') AS toks
      FROM {table})
"""


def minhash_sql(table: str, id_col: str = "doc_id", n: int = 3) -> str:
    """DuckDB CTEs: shingles → 32-bit md5 hash → per-perm minima."""
    perms_rows = ", ".join(f"({i}, {a}, {b})" for i, a, b in _perm_constants())
    return f"""
WITH perms(perm_id, a, b) AS (VALUES {perms_rows}),
shingles AS ({shingle_sql(table, id_col, n)}),
hashed AS (
  SELECT {id_col},
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM shingles
)
SELECT {id_col}, perm_id,
       MIN((a * h + b) % {MINHASH_PRIME}) AS minhash
FROM hashed CROSS JOIN perms
GROUP BY {id_col}, perm_id
"""


def contamination_check(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination scan: flag train docs whose shingle set is
    substantially contained in some single eval doc.

    For each train doc, overlap = |shingles(train) ∩ shingles(eval)| /
    |shingles(train)| against every candidate eval doc sharing ≥1 shingle;
    report the best-matching eval doc (ties → smallest eval id). Returns
    (train_id, eval_id, shared, overlap) for overlap ≥ min_overlap.

    Scale shape: two shingle explosions + one equi-join on the shingle
    string — the same inverted-index join as ngram_jaccard_pairs, but
    asymmetric (train × eval), so the join's build side is the eval set,
    which is small by construction (benchmarks are KBs–MBs against TBs of
    train) → broadcast the eval shingles and the fact side never shuffles.
    """
    # r13-opt note: checkpointing sh_t (it feeds sizes + the overlap
    # join) was measured in-session at sf0.1: wall flat, engine CPU
    # WORSE (10.4 vs 7.8 s) — storing the exploded shingle strings costs
    # more than one extra tokenize pass. Left unpersisted deliberately.
    sh_t = shingle_table(train, text_col, id_col, n).withColumnRenamed(
        id_col, "train_id"
    )
    sh_e = shingle_table(eval_set, text_col, id_col, n).withColumnRenamed(
        id_col, "eval_id"
    )
    sizes = sh_t.groupBy("train_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    shared = (
        sh_t.join(F.broadcast(sh_e), on="shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    best = shared.groupBy("train_id").agg(
        F.max_by(
            F.struct(F.col("eval_id"), F.col("shared")),
            F.struct(F.col("shared"), -F.col("eval_id")),
        ).alias("best")
    )
    return (
        best.select(
            "train_id",
            F.col("best.eval_id").alias("eval_id"),
            F.col("best.shared").alias("shared"),
        )
        .join(sizes, on="train_id")
        .withColumn(
            "overlap", F.col("shared") / F.col("n_shingles")
        )
        .filter(F.col("overlap") >= F.lit(min_overlap))
        .select("train_id", "eval_id", "shared", "overlap")
    )


# ---------------------------------------------------------------------------
# Substring-level dedup (r6): repeated-k-gram span detection. Document-
# granularity dedup (everything above) cannot touch repeated boilerplate
# PASSAGES inside otherwise-distinct documents — the dominant contamination
# mode in web corpora (headers, footers, license blocks, templated
# paragraphs). This is the distributed rendering of the suffix-array
# "exact substring" dedup idea: hash every k-token window, count window
# occurrences corpus-wide, and merge the positions of repeated windows
# into maximal per-document spans.
# ---------------------------------------------------------------------------


def repeated_kgram_spans(
    df: DataFrame,
    k: int = 4,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "md5",
) -> DataFrame:
    """Maximal duplicated-token spans per document.

    Pipeline (all built-in expressions, no Python):
    1. postings: one (doc, pos, md5(k-gram)) row per token position
       (posexplode of the O(len) shifted-zip_with n-gram build);
    2. corpus-wide occurrence count per gram hash — groupBy + filter
       ``count >= min_count``, then an equi-join back onto the postings.
       Two shuffles instead of a count-window's one, ON PURPOSE: the
       groupBy partial-aggregates map-side (a boilerplate gram repeated
       millions of times collapses to one row per map task) and the join
       is AQE-skew-splittable, while a count window would funnel every
       posting of a hot gram through one partition un-split;
    3. island merge: positions p cover token span [p, p+k-1]; overlapping
       or adjacent spans merge via the classic running-max-end island
       scan (one window over (doc, pos) — partition-local data).

    Returns (id, span_start, span_end, n_positions): token-index spans,
    inclusive, with the number of repeated windows merged into each.
    Exactly reproducible in ANSI SQL (md5 gram hashes, integer
    positions) — the md5 128-bit keyspace makes a cross-gram collision
    merging two counts astronomically unlikely.

    ``hash_mode='xxhash64'`` is the at-scale production toggle: the
    posting shuffle and count-join keys shrink from 32-char strings to
    8-byte longs (~4× less shuffle per posting, cheaper hash-table
    probes) at the cost of SQL-oracle parity and a 64-bit keyspace
    (birthday-bound ~50% of ONE colliding gram pair at ~5×10⁹ distinct
    grams; a collision can only over-merge a span, never lose one).
    Measured min-of-3 at sf0.1 (500k docs): 2.64 s → 2.13 s (−19%) even
    at this small scale — the win grows with shuffle volume.
    """
    from pyspark.sql import Window

    from xml_to_parquet_spark.functions._parallel import size_to_cores

    df = size_to_cores(df)
    toks = F.split(norm_text(F.col(text_col)), " ")
    grams = F.when(F.size(toks) >= k, ngram_array(toks, k)).otherwise(
        F.array().cast("array<string>")
    )
    if hash_mode == "md5":
        h = F.md5("gram")
    elif hash_mode == "xxhash64":
        h = F.xxhash64("gram")
    else:
        raise ValueError(f"unsupported hash_mode {hash_mode!r}")
    postings = df.select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "gram")
    ).select("id", "pos", h.alias("h"))
    repeated = (
        postings.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    hits = postings.join(repeated, on="h").select("id", "pos")
    w_prev = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("pos") + k - 1).over(w_prev)
    new_island = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
    ).otherwise(0)
    return (
        hits.withColumn("island", F.sum(new_island).over(w_run))
        .groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_positions"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            "n_positions",
        )
    )


def strip_repeated_spans(
    df: DataFrame,
    k: int = 4,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "md5",
) -> DataFrame:
    """Substring dedup, applied: drop every token covered by a repeated
    span and re-join the survivors — (id, cleaned_text, n_tokens,
    n_removed). Documents with no repeated span pass through intact.

    The span join is per-document (collect_list of a FEW merged intervals,
    not postings), then token filtering is an array HOF over (token,
    index) — interpreted, but span lists are short by construction; the
    heavy lifting (counting, merging) happened in
    ``repeated_kgram_spans``'s shuffles."""
    spans = repeated_kgram_spans(
        df, k, min_count, text_col, id_col, hash_mode=hash_mode
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.split(norm_text(F.col(text_col)), " ")
    covered = lambda t, i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    kept = F.when(F.col("_spans").isNull(), toks).otherwise(
        F.filter(toks, lambda t, i: ~covered(t, i))
    )
    return (
        df.join(per_doc, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.array_join(kept, " ").alias("cleaned_text"),
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
        )
    )


def setsim_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering — the
    published AllPairs/PPJoin recipe (Bayardo et al. 2007; Xiao et al.
    2008), the LOSSLESS counterpart of ``ngram_jaccard_via_lsh``: every
    pair with shingle-Jaccard ≥ ``t_num/t_den`` is returned, none
    missed, but unlike ``ngram_jaccard_pairs`` (full inverted-index
    self-join — every shared shingle generates a candidate row, and a
    boilerplate shingle shared by 10^6 docs generates 10^12) the join
    only touches each document's PREFIX: under any global total order
    over shingles, two sets with Jaccard ≥ t MUST share a token among
    each one's first ``|x| - ceil(t·|x|) + 1`` tokens (pigeonhole on the
    overlap bound ceil(t·|x|)); ordering by ASCENDING global frequency
    makes those prefix tokens the RAREST ones, so hot shingles never
    enter the candidate join at all. At t=0.8 the prefix is ~20% of each
    doc; candidate volume drops by the square of that.

    Shape: ONE corpus scan feeds the shingle explode; its consumers
    (ordering, prefix sides, both verify sides) share the postings
    exchange via ReuseExchange; the
    global frequency table is vocabulary-sized; the candidate join is
    keyed on rare prefix shingles (rare ⇒ short postings ⇒ no skew);
    verification is row-local ``array_intersect`` over the two capped
    arrays. Exact integer accept test ``inter·t_den ≥ t_num·union``;
    ``jacc_ppm`` reported as truncating integer.

    Returns ``(id_a, id_b, inter_sz, union_sz, jacc_ppm)``, id_a < id_b,
    ordered — bit-comparable to the brute-force all-pairs oracle, which
    is how the losslessness is proven on real data."""
    # r13-opt: same implementation surgery as containment_prefix_pairs
    # (OPTIMIZATION_r13.md) — window positions instead of
    # collect_list/sort_array/posexplode, integer shingle ids as every
    # join key, and an integer-sid-set verify. Same pair set,
    # bit-identical output.
    # r14-opt (VERDICT r13 item 3): sid is now DETERMINISTIC —
    # xxhash64(shingle) with an inline collision fail-stop — instead of
    # monotonically_increasing_id frozen by a localCheckpoint, and the
    # multiply-consumed postings table is frozen by write-then-read
    # parquet (see materialize_parquet) instead of executor-pinned
    # checkpoint blocks. The per-doc rarity order becomes (c, sid) — a
    # valid total order given injectivity, and the prefix family is
    # lossless under ANY total order, so the verified output is
    # unchanged. The candidate shuffle also narrows further: the
    # postings join is keyed on the 8-byte sid, not the shingle string.
    from pyspark.sql import Window

    raw = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    # vocabulary-sized frequency table keyed by the deterministic sid;
    # min=max certifies injectivity on the live vocabulary (a 64-bit
    # collision fail-stops the query instead of silently corrupting the
    # intersect sizes — the same fail-stop posture the old checkpoint
    # had on executor loss, now deterministic and restart-safe)
    dfreq = (
        raw.groupBy(F.xxhash64("shingle").alias("sid"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("shingle").alias("_mn"),
            F.max("shingle").alias("_mx"),
        )
        .select(
            "sid",
            F.when(F.col("_mn") == F.col("_mx"), F.col("c"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("xxhash64 shingle-id collision: '"),
                        F.col("_mn"),
                        F.lit("' vs '"),
                        F.col("_mx"),
                        F.lit("'"),
                    )
                )
            )
            .alias("c"),
        )
    )
    # per-doc rarest-first positions under the (df, sid) total order;
    # materialized once (write-then-read) for its four consumers
    w = Window.partitionBy("id").orderBy("c", "sid")
    wsz = Window.partitionBy("id")
    posted = materialize_parquet(
        raw.select("id", F.xxhash64("shingle").alias("sid"))
        .join(dfreq, "sid")
        .select(
            "id",
            "sid",
            (F.row_number().over(w) - 1).alias("pos"),
            F.count(F.lit(1)).over(wsz).alias("sz"),
        ),
        prefix="setsim_posted_",
    )
    # prefix length p = sz - ceil(t*sz) + 1, ceil as (t_num*sz+t_den-1)//t_den
    # (0-based: keep pos <= sz - need); sz rides along for the length filter
    prefix = posted.filter(
        F.col("pos")
        <= F.col("sz") - F.expr(f"div({t_num} * sz + {t_den - 1}, {t_den})")
    )
    pa = prefix.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"), "sid",
    )
    pb = prefix.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"), "sid",
    )
    # Jaccard ≥ t ⇔ overlap ≥ α = ceil(t·(|A|+|B|)/(1+t)); two PPJoin
    # prunes make the surviving candidate set ~output-sized BEFORE any
    # array is shipped (without them the docs100 rung OOMed carrying two
    # full shingle arrays across ~10^7 spurious candidates):
    # - length filter: t·|B| ≤ |A| ≤ |B|/t (size-incompatible pairs out)
    # - positional filter: a pair's FIRST shared prefix token at
    #   positions (i, j) bounds overlap by 1 + min(szA−i−1, szB−j−1);
    #   the first-match occurrence of any true pair always passes, so
    #   distinct-after-filter is lossless
    alpha = F.expr(
        f"div({t_num} * (sz_a + sz_b) + {t_num + t_den} - 1, "
        f"{t_num + t_den})"
    )
    cand = (
        pa.hint("shuffle_hash")
        .join(pb, "sid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("sz_a") * t_den >= F.lit(t_num) * F.col("sz_b"))
            & (F.col("sz_b") * t_den >= F.lit(t_num) * F.col("sz_a"))
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("sz_a") - F.col("pos_a") - 1,
                F.col("sz_b") - F.col("pos_b") - 1,
            )
            >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = posted.groupBy("id").agg(
        F.collect_list("sid").alias("sids"), F.max("sz").alias("szz")
    )
    sa = sets.select(
        F.col("id").alias("id_a"), F.col("sids").alias("sa"),
        F.col("szz").alias("size_a"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"), F.col("sids").alias("sb"),
        F.col("szz").alias("size_b"),
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter_sz", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "union_sz", F.col("size_a") + F.col("size_b") - F.col("inter_sz")
        )
        .filter(
            F.col("inter_sz") * t_den >= F.lit(t_num) * F.col("union_sz")
        )
    )
    return (
        verified.select(
            "id_a",
            "id_b",
            F.col("inter_sz").cast("long").alias("inter_sz"),
            F.col("union_sz").cast("long").alias("union_sz"),
            F.expr("div(inter_sz * 1000000L, union_sz)").alias("jacc_ppm"),
        )
        .orderBy("id_a", "id_b")
    )


def setsim_bruteforce_sql(
    table: str,
    id_col: str = "doc_id",
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> str:
    """Brute-force all-pairs oracle for :func:`setsim_prefix_pairs` —
    deliberately prefix-free (every shared shingle joins), so a driver
    match PROVES the prefix filter lossless on the real corpus."""
    return f"""
WITH sh AS ({shingle_sql(table, id_col, n)}),
sizes AS (SELECT {id_col} AS id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.{id_col} < b.{id_col}
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(i AS BIGINT) AS inter_sz,
       CAST(sa.sz + sb.sz - i AS BIGINT) AS union_sz,
       CAST(i * 1000000 // (sa.sz + sb.sz - i) AS BIGINT) AS jacc_ppm
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE i * {t_den} >= {t_num} * (sa.sz + sb.sz - i)
ORDER BY id_a, id_b
"""


def containment_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
    contained_ids: DataFrame | None = None,
    hot_df_cap: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """EXACT asymmetric-containment self-join via a one-sided prefix
    filter — the dedup shape symmetric Jaccard misses (VERDICT r11
    item 6): doc A quoted/boilerplated INSIDE a much larger doc B has
    containment C(A→B) = |A∩B|/|A| ≈ 1 while Jaccard |A∩B|/|A∪B| ≈
    |A|/|B| → 0, so :func:`setsim_prefix_pairs` never surfaces it.
    Returns every DIRECTED pair (id_a, id_b), id_a ≠ id_b, with
    shingle-containment ≥ ``t_num/t_den`` — the standard C4-style
    quote/boilerplate detector.

    Prefix math (one-sided; cf. the symmetric bound in
    :func:`setsim_prefix_pairs`): C(A→B) ≥ t ⇒ |A∩B| ≥ ceil(t·|A|) ⇒
    |A\\B| ≤ |A| − ceil(t·|A|), so under any global total order at least
    one of A's first ``pA = |A| − ceil(t·|A|) + 1`` tokens is in B.
    Only the CONTAINED side can be prefix-cut — the container B has no
    size relation to A (that asymmetry is the point), so B contributes
    its full postings list, as in the published containment joins
    (PRETTI/PIEJoin family). Two lossless prunes cut the candidates:

    - length filter: |A∩B| ≤ |B| ⇒ ``szB ≥ ceil(t·szA)``;
    - dual positional filter: for a TRUE pair, the globally-RAREST
      common token w* must lie inside A's prefix (every A-token rarer
      than w* is non-common by minimality — if the whole prefix were
      non-common the pigeonhole above is violated), and on that row
      all tokens ordered before w* on EITHER side are non-common, so
      ``|A∩B| ≤ min(szA − pos_a, szB − pos_b)``; rows failing
      ``ceil(t·szA)`` against that bound are dropped BEFORE distinct.
      The w*-row always survives, so distinct-after-filter is lossless.

    Scale shape: the join is keyed on A-prefix tokens (each doc's
    rarest ~``1−t`` fraction), so a boilerplate shingle enters only for
    docs made almost entirely of boilerplate; candidate volume is
    Σ_A Σ_{w∈prefix(A)} df(w) — minimized by the rarest-first order.

    ``hot_df_cap`` (optional) closes the residual boilerplate-shingle
    skew the r12 version left to AQE: a shingle with df(w) ≈ corpus
    size puts its ENTIRE postings list into one shuffle partition of
    the candidate join — a straggler even when the hot key produces
    zero candidates (the B side still has to land somewhere). With the
    cap set, the candidate join is split by shingle hotness into a
    LOSSLESS union of two plans:

    - cold (``df(w) ≤ cap``): the normal shuffle equi-join, now with a
      per-key partition bound of ``cap`` B-rows;
    - hot (``df(w) > cap``): ``broadcast(prefix side) ⋈ postings`` —
      the huge hot postings stream map-side through a hash table of
      the A-prefix rows that carry a hot shingle, so df(w) rows are
      never shuffled BY KEY at all.

    Hotness is a property of the shingle, so the split is a partition
    of the joined rows and the union is row-identical to the unsplit
    join (pair multiplicity collapses in the same ``distinct``; the
    per-row positional filter is branch-independent, so the w*-row
    survival argument is unchanged). The broadcast side is bounded by
    (docs whose PREFIX contains a boilerplate shingle) × prefix length
    — by the rarest-first order those are docs made almost entirely of
    boilerplate, vanishingly rare in real corpora; the hot-shingle
    list itself is ≤ corpus_tokens/cap entries by Markov. Verification
    is row-local ``array_intersect`` over the two per-doc sid arrays —
    no re-shuffle of the corpus.

    ``contained_ids`` (optional, single-column DataFrame of ids)
    restricts the CONTAINED side A to those ids — the hook the
    screen→exact composition (:func:`containment_screened_pairs`) uses
    to probe only sketch-screen survivors. Shingle document frequencies
    and the container side B still come from the FULL corpus, so the
    restriction changes which pairs are asked about, never their
    verdicts.

    Returns ``(id_a, id_b, inter_sz, size_a, size_b, cont_ppm)``
    ordered, bit-comparable to :func:`containment_bruteforce_sql`.

    r13-opt implementation notes (same pair set, bit-identical output;
    measured 7.4 s → 2.7 s plain and 5.0 s → 2.0 s on the skew corpus
    at sf0.1, OPTIMIZATION_r13.md):

    - positions come from a window (row_number over the per-doc rarity
      order) instead of collect_list → sort_array → double posexplode —
      one pass, no per-doc array materialization;
    - every join key is an 8-byte integer shingle id — the candidate
      shuffle moves no strings at all;
    - the candidate join is an explicit shuffled-hash join building on
      the PREFIX side (the ~(1−t) fraction — the smaller side; Spark's
      static size estimate used to BROADCAST the full postings side, a
      plan that dies at corpus scale);
    - verification intersects per-doc integer sid sets, not the
      original string arrays — array_intersect hashes longs instead of
      ~30-byte strings.

    r14-opt (VERDICT r13 item 3): ``sid`` is now DETERMINISTIC —
    ``xxhash64(shingle)`` with an inline collision fail-stop (min=max
    certificate on the frequency aggregate) — replacing
    ``monotonically_increasing_id`` frozen by a localCheckpoint, and
    the multiply-consumed ``posted`` table is frozen by write-then-read
    parquet (see :func:`materialize_parquet`) instead of executor-
    pinned checkpoint blocks: no fail-stop on executor loss, no
    recompute-reassigns-sids hazard, no corpus pinned in executor
    memory. The rarity order becomes (c, sid) — the prefix/positional
    prunes are lossless under ANY total order, so the verified output
    is unchanged.
    """
    from pyspark.sql import Window

    raw = (
        shingled
        if shingled is not None
        else df.select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        )
    ).filter(F.col("shingle").isNotNull())
    dfreq = (
        raw.groupBy(F.xxhash64("shingle").alias("sid"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("shingle").alias("_mn"),
            F.max("shingle").alias("_mx"),
        )
        .select(
            "sid",
            F.when(F.col("_mn") == F.col("_mx"), F.col("c"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("xxhash64 shingle-id collision: '"),
                        F.col("_mn"),
                        F.lit("' vs '"),
                        F.col("_mx"),
                        F.lit("'"),
                    )
                )
            )
            .alias("c"),
        )
    )
    w = Window.partitionBy("id").orderBy("c", "sid")
    wsz = Window.partitionBy("id")
    posted = materialize_parquet(
        raw.select("id", F.xxhash64("shingle").alias("sid"))
        .join(dfreq, "sid")
        .select(
            "id",
            "sid",
            "c",
            (F.row_number().over(w) - 1).alias("pos"),
            F.count(F.lit(1)).over(wsz).alias("sz"),
        ),
        prefix="containment_posted_",
    )
    # ceil(t*sz) as integer arithmetic; the prefix is pos <= sz - need
    # (0-based), identical to the old slice(otoks, 1, sz - need + 1)
    need = F.expr(f"div({t_num} * sz + {t_den - 1}, {t_den})")
    pa_full = posted.withColumn("need_a", need).filter(
        F.col("pos") <= F.col("sz") - F.col("need_a")
    )
    if contained_ids is not None:
        ids = contained_ids.toDF("id").distinct()
        pa_full = pa_full.join(ids, "id", "left_semi")
    pa = pa_full.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        "need_a",
        F.col("pos").alias("pos_a"),
        "sid",
    )
    pb = posted.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
        "sid",
    )
    if hot_df_cap is None:
        joined = pa.hint("shuffle_hash").join(pb, "sid")
    else:
        # hot/cold split (see docstring): `hot` is the small heavy-
        # hitter shingle-id set (≤ corpus_tokens/cap rows), broadcast
        # into the four semi/anti splitters; the hot branch broadcasts
        # the A-prefix rows so the giant hot postings never shuffle by
        # key. Derived from posted so the splitters share the same
        # reused exchange as every other posted consumer.
        hot = F.broadcast(
            posted.filter(F.col("c") > hot_df_cap).select("sid").distinct()
        )
        joined = (
            pa.join(hot, "sid", "left_anti")
            .hint("shuffle_hash")
            .join(pb.join(hot, "sid", "left_anti"), "sid")
            .unionByName(
                pb.join(hot, "sid", "left_semi").join(
                    F.broadcast(pa.join(hot, "sid", "left_semi")),
                    "sid",
                )
            )
        )
    cand = (
        joined.filter(F.col("id_a") != F.col("id_b"))
        .filter(F.col("sz_b") >= F.col("need_a"))
        .filter(
            F.least(
                F.col("sz_a") - F.col("pos_a"),
                F.col("sz_b") - F.col("pos_b"),
            )
            >= F.col("need_a")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = posted.groupBy("id").agg(
        F.collect_list("sid").alias("sids"), F.max("sz").alias("szz")
    )
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("sids").alias("sa"),
        F.col("szz").alias("size_a"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"),
        F.col("sids").alias("sb"),
        F.col("szz").alias("size_b"),
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter_sz", F.size(F.array_intersect("sa", "sb")))
        .filter(
            F.col("inter_sz") * t_den >= F.lit(t_num) * F.col("size_a")
        )
    )
    return (
        verified.select(
            "id_a",
            "id_b",
            F.col("inter_sz").cast("long").alias("inter_sz"),
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            F.expr("div(inter_sz * 1000000L, size_a)").alias("cont_ppm"),
        )
        .orderBy("id_a", "id_b")
    )


def containment_bruteforce_sql(
    table: str,
    id_col: str = "doc_id",
    n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
) -> str:
    """Brute-force directed-containment oracle for
    :func:`containment_prefix_pairs` — deliberately prefix-free (every
    shared shingle joins, both directions), so a driver match PROVES
    the one-sided prefix filter lossless on the real corpus."""
    return f"""
WITH sh AS ({shingle_sql(table, id_col, n)}),
sizes AS (SELECT {id_col} AS id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.{id_col} <> b.{id_col}
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(i AS BIGINT) AS inter_sz,
       CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
       CAST(i * 1000000 // sa.sz AS BIGINT) AS cont_ppm
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE i * {t_den} >= {t_num} * sa.sz
ORDER BY id_a, id_b
"""


def containment_dedup_apply(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """Surviving documents after containment dedup — the consumer of
    :func:`containment_prefix_pairs`, mirroring how ``dedup_apply``
    consumes the symmetric families: a document is DROPPED iff some
    strictly-greater document contains it (containment ≥ t and the
    container is larger, ties broken by smaller id). "Strictly greater"
    makes the drop rule a DAG — mutual containment (near-identical
    docs) keeps exactly the larger/smaller-id representative instead of
    deleting both — and keeps the rule LOCAL (one pass over the pair
    list, no fixpoint): the C4/RefinedWeb discipline of dropping
    against the corpus, not against the surviving set, so results are
    deterministic under any partitioning and the oracle is plain SQL.

    Returns the surviving rows of ``df`` unchanged (same columns)."""
    pairs = containment_prefix_pairs(
        df, text_col=text_col, id_col=id_col, n=n,
        t_num=t_num, t_den=t_den,
    )
    drops = (
        pairs.filter(
            (F.col("size_b") > F.col("size_a"))
            | (
                (F.col("size_b") == F.col("size_a"))
                & (F.col("id_b") < F.col("id_a"))
            )
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return df.join(drops, id_col, "left_anti")


def containment_dedup_sql(
    table: str,
    id_col: str = "doc_id",
    n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
) -> str:
    """Brute-force oracle for :func:`containment_dedup_apply`:
    surviving ids after dropping every doc with a strictly-greater
    container (size desc, id asc ordering), directed pairs prefix-free."""
    return f"""
WITH sh AS ({shingle_sql(table, id_col, n)}),
sizes AS (SELECT {id_col} AS id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.{id_col} <> b.{id_col}
  GROUP BY 1, 2
),
drops AS (
  SELECT DISTINCT id_a
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE i * {t_den} >= {t_num} * sa.sz
    AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND id_b < id_a))
)
SELECT t.* FROM {table} t
WHERE t.{id_col} NOT IN (SELECT id_a FROM drops)
ORDER BY t.{id_col}
"""


def containment_sketch_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    t_num: int = 4,
    t_den: int = 5,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """APPROXIMATE containment pairs from a bottom-k sketch — the
    billion-doc companion to :func:`containment_prefix_pairs` (the
    containment-MinHash / Mash-screen estimator, Broder 1997; Ondov et
    al. 2016): the k smallest shingle hashes of A are a uniform sample
    of A's shingle set, so the fraction of them present in B estimates
    C(A→B) = |A∩B|/|A| — per contained doc the join probes k rows
    instead of the ~(1−t)·|A| prefix rows, and the estimate needs no
    verification arrays at all (no second corpus-wide join): the whole
    operator is sketch-build (one window keyed by doc) + one equi-join
    on hash + a count.

    Exchange-rate vs the exact path: candidates keyed by the k SMALLEST
    hashes (uniform over shingles) instead of the RAREST shingles —
    boilerplate shingles can enter sketches, so posting lists are the
    skew hazard the exact path engineers away; in exchange the probe
    volume per doc is O(k) regardless of doc size and the verify stage
    disappears. Use this to SCREEN at 10⁹+ docs and feed survivors to
    the exact join.

    DETERMINISTIC estimator (md5-ranked bottom-k, ties by shingle), so
    the oracle is an exact SQL replay — the driver hash-match proves
    the estimator, and accuracy is a separate measured question
    (est = m/s_k with s_k = min(k,|A|); exact 1.0-containment pairs are
    ALWAYS found since every sampled shingle is in B). 32-bit hash
    collisions fold distinct shingles together identically in both
    engines.

    Returns ``(id_a, id_b, m, sk_a, cont_est_ppm)`` ordered, where
    ``m`` = sampled shingles of A found in B and ``sk_a`` = sketch size.
    """
    from pyspark.sql import Window

    hashed = (
        shingled
        if shingled is not None
        else df.select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        )
    ).withColumn("h", md5_hash32(F.col("shingle")))
    # r14-opt (VERDICT r13 items 3/4): ONE window pass computes both the
    # bottom-k rank and the per-doc row count (same partition key, same
    # exchange), so the sketch row itself carries sk_a = least(k, rows)
    # and the former separate sk_sizes groupBy + final re-join are gone;
    # the ranked table is frozen by write-then-read parquet instead of
    # a corpus-sized localCheckpoint (see materialize_parquet). The
    # candidate join still builds on the sketch side (k rows/doc) via
    # an explicit shuffled-hash join — the static planner used to
    # BROADCAST the full distinct postings (corpus-sized at scale).
    w = Window.partitionBy("id").orderBy("h", "shingle")
    wc = Window.partitionBy("id")
    ranked = materialize_parquet(
        hashed.select(
            "id",
            "h",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        ),
        prefix="sketch_ranked_",
    )
    sketch = ranked.filter(F.col("rn") <= k).select(
        F.col("id").alias("id_a"),
        "h",
        F.least(F.lit(k), F.col("cnt")).alias("sk_a"),
    )
    postings = ranked.select(F.col("id").alias("id_b"), "h").distinct()
    m = (
        sketch.hint("shuffle_hash")
        .join(postings, "h")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("m"), F.max("sk_a").alias("sk_a"))
    )
    return (
        m.filter(F.col("m") * t_den >= F.lit(t_num) * F.col("sk_a"))
        .select(
            "id_a",
            "id_b",
            F.col("m").cast("long").alias("m"),
            F.col("sk_a").cast("long").alias("sk_a"),
            F.expr("div(m * 1000000L, sk_a)").alias("cont_est_ppm"),
        )
        .orderBy("id_a", "id_b")
    )


def containment_sketch_sql(
    table: str,
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    t_num: int = 4,
    t_den: int = 5,
) -> str:
    """Exact SQL replay of :func:`containment_sketch_pairs` — same
    md5-ranked bottom-k, same tie-break, same collision folding, so a
    driver match proves the DETERMINISTIC estimator end to end."""
    return f"""
WITH sh AS ({shingle_sql(table, id_col, n)}),
h AS (
  SELECT {id_col} AS id, shingle,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM sh
),
sk AS (
  SELECT id AS id_a, h FROM (
    SELECT id, h,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY h, shingle) AS rn
    FROM h
  ) WHERE rn <= {k}
),
szs AS (SELECT id_a, COUNT(*) AS sk_a FROM sk GROUP BY 1),
posting AS (SELECT DISTINCT id AS id_b, h FROM h),
m AS (
  SELECT id_a, id_b, COUNT(*) AS m
  FROM sk JOIN posting USING (h)
  WHERE id_a <> id_b
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(m AS BIGINT) AS m, CAST(sk_a AS BIGINT) AS sk_a,
       CAST(m * 1000000 // sk_a AS BIGINT) AS cont_est_ppm
FROM m JOIN szs USING (id_a)
WHERE m * {t_den} >= {t_num} * sk_a
ORDER BY id_a, id_b
"""


def containment_screened_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    t_num: int = 4,
    t_den: int = 5,
    screen_num: int = 1,
    screen_den: int = 2,
) -> DataFrame:
    """Screen→exact containment composition (VERDICT r12 item 3) — the
    full 10⁹-doc pipeline as ONE operator: the O(k)-probe bottom-k
    sketch screen (:func:`containment_sketch_pairs`) nominates the
    docs that LOOK contained at a permissive threshold
    ``screen_num/screen_den``, and the exact one-sided prefix join
    (:func:`containment_prefix_pairs`) re-asks ONLY those docs at the
    real threshold ``t_num/t_den`` against the full corpus.

    Scale shape: the exact join's candidate volume is
    Σ_{A∈survivors} Σ_{w∈prefix(A)} df(w) — on a corpus where most
    docs are contained in nothing, the screen turns the exact join's
    dominant cost from corpus-sized to survivor-sized while keeping
    verdicts bit-identical to the exact join on the survivor set (the
    ``contained_ids`` restriction changes which pairs are asked about,
    never their verdicts).

    WHEN TO SCREEN (measured, tools/screen_rung.py + SCALING.md): the
    screen probes k uniform bottom-k hashes per doc (average-df
    postings); the unscreened exact join probes the prefix(A) RAREST
    shingles (minimum-df postings). Wherever the corpus has a
    rare-shingle tail the rarity ordering already collapses candidate
    volume and the composition LOSES (0.4–0.5× on both natural-shaped
    rung corpora). It wins — 45× and rising, with the unscreened join
    GC-dead at 2.5× the rung size — exactly where the prefix trick has
    nothing rare to grab: flat df distributions (boilerplate/templated
    corpora) with long docs, where exact volume grows ~N²·df but the
    screen's stays N·k·df. Screen when (1−t)·|A| ≫ k AND df has no
    rare tail; otherwise the exact join alone is already
    survivor-sized.

    Recall: the screen is DETERMINISTIC (md5-ranked bottom-k), so the
    composition is exactly replayable in SQL — the driver hash-match
    proves the whole pipeline. Exact 1.0-containment pairs are always
    kept (every sampled shingle is in the container). For t ≤ C < 1 the
    screen's miss probability is the hypergeometric tail
    P(m/s_k < screen_t | C) — driven to negligible by the threshold gap
    (defaults: screen at 1/2, exact at 4/5, k=16 → P(miss | C=0.8)
    ≈ 1.5e-3 and falls exponentially in k); the screen/exact gap, not
    bigger sketches, is the recall knob.

    Returns the exact join's schema ``(id_a, id_b, inter_sz, size_a,
    size_b, cont_ppm)`` ordered."""
    if screen_num * t_den >= t_num * screen_den:
        raise ValueError(
            f"screen threshold {screen_num}/{screen_den} must be BELOW "
            f"the exact threshold {t_num}/{t_den}: the gap between them "
            f"is what absorbs sketch estimation noise"
        )
    # r14-opt (VERDICT r13 item 4): the screen and exact stages used to
    # tokenize + shingle-explode the corpus INDEPENDENTLY (the "pays
    # both stages' checkpoints" finding). One materialized (id, shingle)
    # table now feeds both — the regex-heavy normalize/shingle pass runs
    # once, and each stage derives its own keyed tables (md5 bottom-k /
    # xxhash64 rarity postings) from the compact parquet.
    shingled = materialize_parquet(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        ),
        prefix="screened_shingled_",
    )
    survivors = containment_sketch_pairs(
        df, text_col=text_col, id_col=id_col, n=n, k=k,
        t_num=screen_num, t_den=screen_den, shingled=shingled,
    ).select("id_a").distinct()
    return containment_prefix_pairs(
        df, text_col=text_col, id_col=id_col, n=n,
        t_num=t_num, t_den=t_den, contained_ids=survivors,
        shingled=shingled,
    )


def containment_screened_sql(
    table: str,
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    t_num: int = 4,
    t_den: int = 5,
    screen_num: int = 1,
    screen_den: int = 2,
) -> str:
    """Exact SQL replay of :func:`containment_screened_pairs`: the
    deterministic sketch screen as a CTE feeding the prefix-free brute
    containment join restricted to screen survivors. A driver match
    proves screen AND exact stage end to end on the same corpus."""
    return f"""
WITH screen AS ({containment_sketch_sql(table, id_col, n, k,
                                        screen_num, screen_den)}),
surv AS (SELECT DISTINCT id_a FROM screen),
sh AS ({shingle_sql(table, id_col, n)}),
sizes AS (SELECT {id_col} AS id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.{id_col} <> b.{id_col}
    AND a.{id_col} IN (SELECT id_a FROM surv)
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(i AS BIGINT) AS inter_sz,
       CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
       CAST(i * 1000000 // sa.sz AS BIGINT) AS cont_ppm
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE i * {t_den} >= {t_num} * sa.sz
ORDER BY id_a, id_b
"""
