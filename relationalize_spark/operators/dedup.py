"""Deduplication operators for large-scale document pipelines.

Five families, all shaped for distributed execution:

- **exact**: hash-groupBy. One shuffle on the content hash.
- **n-gram Jaccard**: inverted-index self-join on shingles — the
  standard scalable formulation (never materializes the O(N^2) pair
  space; only documents sharing at least one shingle meet).
- **MinHash + LSH**: per-document signatures (k seeded xxhash64 mins,
  computed JVM-side with higher-order functions), banded into buckets;
  only same-bucket documents become candidate pairs, then candidates
  are verified with exact Jaccard. Tunable (num_hashes, bands) for the
  recall/cost trade-off at 100 TB.
- **SimHash**: 64-bit signature per document; Hamming-ball candidate
  generation via band buckets (pigeonhole: pairs within distance d
  share at least one of d+1 bands), verified with bit_count(xor).
- **embedding cosine**: see :mod:`.similarity`; `embedding_dup_pairs`
  wraps it with a threshold.

Everything is built-in Catalyst expressions — no Python UDFs.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine
from ..plans.caches import register_cache
from ..plans.scale import ensure_parallelism
from .text import WS, tokens
from ..functions.lattice import floor_lattice


# -- exact ------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, subset: list[str] | None = None, tiebreak: str | None = None
) -> DataFrame:
    """Keep one row per distinct value of ``subset`` (default: all
    columns). ``tiebreak`` picks the survivor deterministically (min);
    without it the first row Spark sees wins (cheaper: no sort)."""
    cols = subset or df.columns
    if tiebreak is None:
        return df.dropDuplicates(cols)
    w = Window.partitionBy(*cols).orderBy(F.asc(tiebreak))
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


# -- shingles / Jaccard -----------------------------------------------------

def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles; shorter documents fall back to one
    whole-document shingle."""
    toks = tokens(text)
    n_sh = F.size(toks) - (n - 1)
    windows = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(n_sh >= 1, windows).otherwise(
        F.array(F.array_join(toks, " "))
    )


def shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """62-bit hashes of word n-gram shingles WITHOUT building shingle
    strings: each token is xxhash64'd once, then a shingle hash is the
    modular polynomial combination of its n consecutive token hashes.
    ~n times less string hashing than hashing shingle strings, and no
    3-token string materialization at all. Collision probability per
    document is ~(shingles^2)/2^62 — negligible for Jaccard purposes.
    Short documents fall back to one whole-document shingle, matching
    :func:`shingles`."""
    toks = tokens(text)
    # Two independent 31-bit polynomial lanes combined into one 62-bit
    # value: every intermediate stays under 2^52, so ANSI-mode long
    # arithmetic cannot overflow, while the effective hash space keeps
    # collisions negligible.
    #
    # Implementation is array-at-a-time (slice + zip_with over shifted
    # copies), NOT per-window element_at indexing: repeated element_at
    # references re-evaluate the token-hash array per window (Catalyst
    # does not CSE inside higher-order functions), which turns the
    # whole thing quadratic in document length.
    m = F.lit(2**31)
    th = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), m))
    n_sh = F.size(toks) - (n - 1)

    def lane(mult: int) -> Column:
        acc = F.slice(th, 1, n_sh)
        for k in range(1, n):
            shifted = F.slice(th, 1 + k, n_sh)
            acc = F.zip_with(
                acc, shifted, lambda a, b: F.pmod(a * F.lit(mult) + b, m)
            )
        return acc

    windows = F.zip_with(
        lane(1_000_003), lane(998_917), lambda a, b: a * m + b
    )

    def whole_lane(mult: int) -> Column:
        return F.aggregate(
            th,
            F.lit(0).cast("long"),
            lambda acc, h: F.pmod(acc * F.lit(mult) + h, m),
        )

    whole = F.array(whole_lane(1_000_003) * m + whole_lane(998_917))
    return F.when(n_sh >= 1, windows).otherwise(whole)


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle-hash) with per-document distinct shingles — the
    inverted index input. Uses hashed shingles (see shingle_hashes);
    Jaccard over hash sets equals Jaccard over string sets up to a
    ~2^-62 collision probability."""
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
    )
    return base.select(
        "id",
        F.explode(F.array_distinct(shingle_hashes("__text__", n))).alias("shingle"),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold, via
    inverted-index join.

    ``max_df`` caps per-shingle document frequency: shingles that
    appear in more than ``max_df`` documents (stop-phrases) are
    excluded from the self-join. Without it, one shingle shared by 1%
    of a 100 TB corpus melts a single reducer; with it, per-shingle
    join fanout is bounded by max_df**2. Jaccard denominators still
    count every shingle, so capped scores only UNDERcount the
    intersection — pairs whose overlap is real near-duplication keep
    their score, pairs held together only by stop-phrases drop out
    (they were false positives for dedup anyway). ``None`` = exact.
    """
    # sh feeds both sides of the self-join plus the size aggregation;
    # persist to avoid three shingle recomputations.
    sh = shingle_table(df, id_col, text_col, n).persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    joinable = sh
    if max_df is not None:
        # One extra groupBy on the shingle key (partial-aggregated, so
        # the shuffle carries one row per distinct shingle, not per
        # posting). The surviving-shingle list joins back as a
        # semi-join on the same key the self-join shuffles on.
        # merge hint: the surviving-shingle list is DERIVED FROM THE
        # CORPUS, so its size scales with the input — left to the
        # planner it gets broadcast-promoted under the session's 128m
        # threshold and at ~100x corpus the driver-side build OOMs
        # (observed: notEnoughMemoryToBuildAndBroadcastTable at 500k
        # docs / 3.7M distinct shingles on the 4g local driver). The
        # sort-merge join shares the shingle-hash exchange the
        # self-join needs anyway; only bounded, corpus-independent
        # inputs may broadcast (repo rule).
        ok = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        joinable = sh.join(ok.hint("merge"), "shingle", "left_semi")
    a = joinable.alias("a")
    b = joinable.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    return (
        common.join(sa, F.col("i") == F.col("sa.id"))
        .join(sb, F.col("j") == F.col("sb.id"))
        .select("i", "j", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# -- MinHash + LSH ----------------------------------------------------------

def minhash_signature(shingle_arr: Column, num_hashes: int = 32) -> Column:
    """Array of ``num_hashes`` minima of a double-hashing family over
    the shingle set — a (1/num_hashes)-resolution Jaccard sketch.

    Each shingle is hashed exactly twice (xxhash64 with two seeds,
    JVM-side); hash function i is the standard double-hashing
    combination ``(h1 + i*h2) % 2^31``, so widening the signature
    costs integer math, not extra hashing. The per-i minima run as
    ONE numpy broadcast per Arrow batch: the previous Catalyst form
    (``transform(sequence(0, n-1), i -> array_min(zip_with(h1, h2,
    ...)))``) captured h1/h2 inside the per-i lambda, and Catalyst
    re-evaluates captured expressions per element — every shingle was
    re-hashed ``num_hashes`` times (the r4 lambda-capture defect
    class). Here h1/h2 are UDF ARGUMENTS, evaluated once; arithmetic
    is bit-identical (all values < 2^36, far from int64 overflow —
    the pmod keeps i*h2 from degenerating every hash function to the
    same min-h2 shingle)."""
    import numpy as np

    m = F.lit(2**31)
    h1 = F.transform(shingle_arr, lambda s: F.pmod(F.xxhash64(s), m))
    h2 = F.transform(shingle_arr, lambda s: F.pmod(F.xxhash64(s, F.lit(1)), m))
    coeff = np.arange(num_hashes, dtype=np.int64)[:, None]

    @F.pandas_udf("array<long>")
    def mins(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if x is None or len(x) == 0:
                out.append([None] * num_hashes)
                continue
            x = np.asarray(x, dtype=np.int64)[None, :]
            y = np.asarray(y, dtype=np.int64)[None, :]
            out.append(((x + coeff * y) % (2**31)).min(axis=1).tolist())
        return pd.Series(out)

    return mins(h1, h2)


def _band_buckets(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Array of ``bands`` bucket keys: the signature sliced into
    groups of ``rows_per_band`` values, each group hashed to one
    64-bit key."""
    return F.array(
        *[
            F.xxhash64(
                *[
                    F.element_at(sig, b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )


def _band_entries(sig_df: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) rows: each signature sliced into ``bands``
    groups of ``rows_per_band`` values, each group hashed to one
    bucket key. Pairs colliding in any (band, bucket) are LSH
    candidates."""
    return sig_df.select(
        "id",
        F.posexplode(_band_buckets(F.col("sig"), bands, rows_per_band)).alias(
            "band", "bucket"
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact verification.

    With r = num_hashes/bands rows per band, a pair with Jaccard j is
    caught with probability 1 - (1 - j^r)^bands; the defaults catch
    j >= 0.8 with P > 0.9999. Candidates are verified exactly, so
    precision is 1.0 and only recall depends on the banding.
    """
    rows_per_band = num_hashes // bands
    assert bands * rows_per_band == num_hashes, "bands must divide num_hashes"

    docs = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
    ).select(
        "id",
        F.array_distinct(shingle_hashes("__text__", n)).alias("sh"),
    )
    # The signature frame feeds both sides of the band self-join AND
    # the exact-verification joins; persist it once instead of
    # recomputing shingles + signatures four times. Band buckets and
    # the set size are precomputed INTO the cache (r12): the raw
    # signature is consumed only by the bucket hashing, so storing
    # buckets instead of sig halves the banding xxhash64 work (each
    # self-join side used to re-hash 16 bands from the cached sig)
    # and shrinks both Generate-side codegen spans to a plain
    # posexplode of a stored column — less per-plan JIT, same values.
    sig = docs.select(
        "id",
        "sh",
        F.size("sh").alias("n_sh"),
        _band_buckets(
            minhash_signature(F.col("sh"), num_hashes), bands, rows_per_band
        ).alias("buckets"),
    ).persist()
    band_entries = sig.select(
        "id", F.posexplode("buckets").alias("band", "bucket")
    )
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .distinct()
    )
    # Exact verification via the inverted index: count common shingles
    # by joining candidate pairs to the exploded posting table twice.
    # Only (id, shingle, set-size) longs ride the shuffles — the
    # per-document shingle ARRAYS never leave their partition, unlike
    # an array_intersect join which ships whole sets per candidate
    # pair. Each posting row carries its document's set size (2 ints
    # wider), so the Jaccard denominator falls out of the same
    # groupBy — no extra corpus-frame joins to re-attach sizes.
    sh_tab = sig.select("id", "n_sh", F.explode("sh").alias("shingle"))
    common = (
        candidates.join(
            sh_tab.select(F.col("id").alias("i"), F.col("n_sh").alias("na"), "shingle"),
            "i",
        )
        .join(
            sh_tab.select(F.col("id").alias("j"), F.col("n_sh").alias("nb"), "shingle"),
            ["j", "shingle"],
        )
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return common.select("i", "j", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# -- SimHash ----------------------------------------------------------------

def simhash_expr(text_col: str, bits: int = 64) -> Column:
    """Classic unweighted SimHash over distinct tokens: bit j of the
    signature is the sign of the sum of (+-1) votes from token-hash
    bit j. Kept for API/semantics reference — the Catalyst form
    re-evaluates the token-hash array once PER BIT (no CSE inside
    higher-order lambdas: 64x re-tokenize + re-hash per document);
    :func:`simhash_from_hashes` computes the identical signature from
    a hash-once array with one numpy pass per Arrow batch and is what
    :func:`simhash_pairs` uses.

    NB the tokenizer pattern must be SQL-escaped: an f-string '{WS}'
    put the raw ``\\s+`` into a SQL literal, which the parser
    de-escapes to ``s+`` — silently splitting on the LETTER s
    (caught round 3 by the UDF-vs-expr parity test)."""
    q = "`" + text_col.replace("`", "``") + "`"
    ws_sql = WS.replace("\\", "\\\\")
    return F.expr(
        f"""
        aggregate(
          transform(sequence(0, {bits - 1}),
            j -> CASE WHEN aggregate(
                   transform(array_distinct(split({q}, '{ws_sql}')), t -> xxhash64(t)),
                   0L, (acc, x) -> acc + CAST((x >> j) & 1 AS BIGINT) * 2 - 1) > 0
                 THEN shiftleft(1L, j) ELSE 0L END),
          0L, (acc, x) -> acc | x)
        """
    )


def simhash_from_hashes():
    """pandas_udf: array<long> of (distinct) token hashes -> the same
    64-bit SimHash :func:`simhash_expr` produces, bit-exact (numpy
    int64 ``>>`` is arithmetic like Spark's, so bit extraction
    matches for every bit including the sign bit). One vectorized
    bit-vote matrix per row instead of 64 interpreted re-aggregations
    per document."""
    import numpy as np

    shifts = np.arange(64, dtype=np.int64)

    @F.pandas_udf("long")
    def sim(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for i, h in enumerate(hashes):
            x = np.asarray(h, dtype=np.int64)
            if x.size == 0:
                out[i] = 0
                continue
            votes = (((x[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
            out[i] = np.bitwise_or.reduce(
                (np.int64(1) << shifts)[votes > 0], initial=np.int64(0)
            )
        return pd.Series(out)

    return sim


def _token_hash(tok: Column, kind: str, seed: int = 0) -> Column:
    """64-bit token hash for the SimHash lanes. ``xxhash64`` (default)
    is the fast JVM path; ``md5_60`` derives a 60-bit lane from the
    first 15 md5 hex chars (the ``table_checksum`` trick) — slower,
    but md5 exists in every SQL engine, so an md5_60 SimHash is
    value-replayable by the DuckDB oracle (q123), turning an
    otherwise rows-only family hash-green. Bits 60-63 of an md5_60
    lane vote negative for every token and stay 0 in the signature —
    identical on both engines, so banding over them is harmless."""
    if kind == "xxhash64":
        return F.xxhash64(tok) if seed == 0 else F.xxhash64(tok, F.lit(seed))
    if kind == "md5_60":
        salted = tok if seed == 0 else F.concat(tok, F.lit("\x01" * seed))
        return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")
    raise ValueError(f"token_hash must be 'xxhash64' or 'md5_60', got {kind!r}")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    sig_bits: int | str = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Pairs within a Hamming ball via band buckets: a pair at distance
    <= max_hamming must agree on at least one of max_hamming+1 disjoint
    bit bands (pigeonhole), so bands >= max_hamming+1 gives recall 1.

    ``sig_bits``: 64 (classic, the default — stable: the same corpus
    content always yields the same pairs regardless of row count),
    128 (two independent hash lanes; hamming is measured over all 128
    bits, so max_hamming thresholds are on the finer 128-bit scale),
    or ``"auto"`` (opt-in — costs one eager corpus count, and makes
    the signature width, hence the tolerated fractional disagreement,
    row-count-dependent): one corpus count picks 64 below
    ``2^(64/bands)`` rows (65,536 at the default 4 bands) and 128 at
    or above it. Why 128 exists: with a
    64-bit signature, ``bands`` bands leave 64/bands-bit buckets,
    and CHANCE band collisions grow ~ n^2 / 2^(64/bands) — measured
    13.5x wall at 100x corpus vs MinHash's 8x purely from random
    16-bit-bucket collisions at 500k docs. 128-bit lanes double the
    bucket width (32 bits at 4 bands): collision-driven candidate
    pairs drop ~65,000x and the self-join stays linear-ish far past
    the corpus size where 64-bit banding melts. The auto switch-over
    point is where the bucket space stops out-sizing the corpus —
    past it, chance pairs grow superlinearly. NB the 128-bit lane
    measures distance over twice the bits with the same max_hamming,
    i.e. it halves the tolerated fractional disagreement — the right
    trade at a corpus size where 64-bit chance collisions would bury
    the true pairs, but a *semantic* switch, which is why auto is
    opt-in rather than the default.
    """
    assert bands >= max_hamming + 1, "pigeonhole requires bands > max_hamming"
    assert sig_bits in ("auto", 64, 128), "sig_bits must be 64, 128, or 'auto'"

    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
    )
    if sig_bits == "auto":
        sig_bits = 128 if base.count() >= 2 ** (64 // bands) else 64
    th1 = F.transform(
        F.array_distinct(F.split(F.col("__text__"), WS)),
        lambda t: _token_hash(t, token_hash, 0),
    )
    sim = simhash_from_hashes()
    if sig_bits == 64:
        sigs = base.select("id", sim(th1).alias("sig"))
        lanes = ["sig"]
    else:
        th2 = F.transform(
            F.array_distinct(F.split(F.col("__text__"), WS)),
            lambda t: _token_hash(t, token_hash, 1),
        )
        sigs = base.select("id", sim(th1).alias("sig"), sim(th2).alias("sig2"))
        lanes = ["sig", "sig2"]

    # banding/verify delegated to hamming_dup_pairs (r11 review: this
    # function previously carried its own un-hinted copy of the band
    # self-join — the corpus-derived build side could still
    # broadcast-promote, the exact defect class the shared helper
    # fixes and test_plan_hygiene pins). Bucket values are identical
    # (mask-after-shift == shiftrightunsigned % 2^bits for the same
    # band split), so the pair set is unchanged.
    return hamming_dup_pairs(
        sigs,
        id_col="id",
        sig_col=tuple(lanes),
        max_hamming=max_hamming,
        bands=bands,
    )


def hamming_dup_pairs(
    sig_df: DataFrame,
    id_col: str = "id",
    sig_col: str | tuple[str, ...] = "sig",
    max_hamming: int = 3,
    bands: int = 4,
    keep_cols: tuple[str, ...] = (),
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs within a Hamming ball over ANY 64-bit BIGINT signature
    column — the :func:`simhash_pairs` band machinery (pigeonhole:
    a pair at distance <= max_hamming agrees on at least one of
    max_hamming+1 disjoint bit bands, so ``bands >= max_hamming+1``
    gives recall 1) factored out so perceptual image hashes
    (:func:`relationalize_spark.operators.multimodal.image_signatures`
    — dHash/aHash, r11), audio fingerprints, or any other
    fixed-width signature reuse it without re-deriving the join.

    ``sig_col`` may be a TUPLE of lane columns (e.g. the 128-bit
    dHash's two 64-bit lanes): bands then split evenly across lanes,
    Hamming distance sums over all of them, and the pigeonhole bound
    holds over the concatenated signature. BUCKET WIDTH is
    64*lanes/bands bits and chance band collisions grow
    ~ n^2 / 2^width per band — but measure before assuming that is
    the binding constraint (r11, BASELINE.md): at 8 bands / one
    64-bit lane / 500k uniform signatures the ~4x10^9 chance
    candidates spread across partitions and cost SECONDS; what
    actually melted the join was bucket DEGENERACY (one shared
    constant band value -> one mega-bucket -> ~6x10^10 rows through
    ONE partition), which lane width cannot fix — de-correlate the
    signature or cap with ``max_bucket``. The wider form's real
    yields are ~2^64 more distance resolution (6x fewer
    chance-PAIRS in the r11 measurement: the coarse 64-bit
    hamming<=6 ball admits them, the 128-bit ball doesn't) and
    headroom at corpus sizes where chance candidates DO dominate
    (~n^2/2^width/band crossing the true-pair count). As with
    simhash's 128-bit lane, distance over more bits with the same
    ``max_hamming`` halves the tolerated FRACTIONAL disagreement —
    a semantic switch the caller makes deliberately.

    ``max_bucket`` (opt-in) is the DEGENERATE-bucket guard: drop
    (band, bucket) groups larger than it from candidate generation —
    the max_df cap's analog for banded LSH. Signatures with a
    popular identical band value (a constant region shared by a
    large corpus fraction; r11's measured case was a constant-padded
    pixel tail putting 70% of documents in ONE tail-band bucket,
    ~6e10 candidate rows at 500k docs) quadratically melt the join
    no matter how wide the buckets are. With the cap, recall 1 is
    guaranteed only for pairs that agree on at least one
    NON-degenerate band; a pair whose every agreeing band is
    degenerate is lost — the documented trade, exactly max_df's.
    Fix the signature (de-correlate the constant region) where
    possible; cap where not.

    Buckets are mask-after-shift (``(sig >> 16b) & 0xFFFF``) rather
    than unsigned shifts so the same expression replays in engines
    whose ``>>`` sign-extends (DuckDB — the value oracle's form);
    the mask erases the arithmetic/logical difference. Self-join on
    (band, bucket) with ``id < id`` dedup, verified by
    ``bit_count(xor)`` — all Catalyst built-ins, no Python in the
    hot path. ``keep_cols`` ride along from each side (prefixed
    ``i_``/``j_``) for downstream verify stages."""
    lanes = (sig_col,) if isinstance(sig_col, str) else tuple(sig_col)
    assert bands >= max_hamming + 1, "pigeonhole requires bands > max_hamming"
    assert bands % len(lanes) == 0, "bands must split evenly across lanes"
    per_lane = bands // len(lanes)
    assert 64 % per_lane == 0, "per-lane bands must divide 64"
    band_bits = 64 // per_lane
    mask = (1 << band_bits) - 1
    lane_names = [f"__sig{i}__" for i in range(len(lanes))]
    base = ensure_parallelism(
        sig_df.select(
            F.col(id_col).alias("id"),
            *[
                F.col(c).cast("long").alias(n)
                for c, n in zip(lanes, lane_names)
            ],
            *[F.col(c) for c in keep_cols],
        )
    )
    bucket_cols = [
        F.col(n)
        if band_bits == 64  # whole-lane band: the 2^64-1 mask would
        # overflow LongType, and identity needs no mask
        else (
            F.shiftright(n, b * band_bits) if b else F.col(n)
        ).bitwiseAND(F.lit(mask))
        for n in lane_names
        for b in range(per_lane)
    ]
    entries = base.select(
        "id",
        *lane_names,
        *keep_cols,
        F.posexplode(F.array(*bucket_cols)).alias("band", "bucket"),
    )
    if max_bucket is not None:
        # the count window partitions on the same keys the join
        # shuffles on, so this adds one pass, not a second exchange
        # pattern
        wcnt = Window.partitionBy("band", "bucket")
        entries = (
            entries.withColumn("__bsz__", F.count(F.lit(1)).over(wcnt))
            .where(F.col("__bsz__") <= max_bucket)
            .drop("__bsz__")
        )
    a, b = entries.alias("a"), entries.alias("b")
    hamming = None
    for n in lane_names:
        h = F.bit_count(F.col(f"a.{n}").bitwiseXOR(F.col(f"b.{n}")))
        hamming = h if hamming is None else hamming + h
    # merge hint: both self-join sides are the corpus-derived band
    # table — un-hinted, the static estimator broadcast-promoted the
    # build side at test SF (caught in the r11 plan audit; the
    # jaccard/tfidf invariant, pinned in test_plan_hygiene)
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("i"),
            F.col("b.id").alias("j"),
            hamming.alias("hamming"),
            *[F.col(f"a.{c}").alias(f"i_{c}") for c in keep_cols],
            *[F.col(f"b.{c}").alias(f"j_{c}") for c in keep_cols],
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- embedding --------------------------------------------------------------

def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = 64,
    n_planes: int = 12,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Pairs of near-identical embeddings by cosine, via banded
    random-hyperplane LSH candidates + exact verification — an
    equi-join on (table, bucket), never a corpus x corpus cross join.

    A pair at angle theta agrees with one hyperplane with probability
    p = 1 - theta/pi, lands in the same bucket of one table with
    p**n_planes, and is caught by any of n_tables independent tables
    with recall = 1 - (1 - p**n_planes)**n_tables. Candidates are
    re-scored exactly, so precision is 1.0. The defaults target the
    real near-dup regime (threshold >= 0.9, p >= 0.85: recall > 0.99
    while cutting the pair space by ~2**n_planes per table). For
    low thresholds raise n_tables / lower n_planes and check the
    formula — at theta near 60 deg LSH prunes little by nature.
    """
    from .similarity import plane_signatures, vector_dim

    if dim is None:
        dim = vector_dim(df, vec_col)
    e = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    )
    sigs = plane_signatures(n_tables, n_planes, dim, seed)
    tab = e.select("id", F.posexplode(sigs("v")).alias("tbl", "bucket"))
    a, b = tab.alias("a"), tab.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .distinct()
    )
    va, vb = e.alias("va"), e.alias("vb")
    score = cosine(F.col("va.v"), F.col("vb.v"))
    return (
        candidates.join(va, F.col("i") == F.col("va.id"))
        .join(vb, F.col("j") == F.col("vb.id"))
        .select("i", "j", floor_lattice(score, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semdedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 32,
    threshold: float = 0.95,
    max_iter: int = 10,
    replayable: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): k-means the embedding space,
    then exact within-cluster cosine pairs above ``threshold``.

    Complement to :func:`embedding_dup_pairs`: LSH banding bounds the
    candidate space probabilistically (recall < 1 at low thresholds),
    whereas clustering bounds it geometrically — semantic duplicates
    land in the same centroid cell, and the within-cell scan is exact.
    Each cluster produces O((N/k)^2) comparisons, so pick
    k ~ sqrt(N/budget); the cluster equi-join is an ordinary shuffle
    join, never a corpus x corpus cross product. Deterministic end to
    end (seeded centroid init, first-minimum tie-break).

    Returns ``(i, j, cos_sim, cluster)`` with ``i < j``. Pairs whose
    members fall in different cells are missed — that is SemDeDup's
    documented trade (boundary pairs), not an implementation limit;
    raise k for finer cells or use ``embedding_dup_pairs`` for
    recall-targeted dedup.

    Shuffle discipline (same split as :func:`embedding_dup_pairs` and
    the fuzzy join): the cluster-keyed self-join carries only
    ``(cluster, id)`` longs — candidate generation never ships the
    vectors. Exact vectors are re-attached afterwards by two id
    equi-joins for scoring, so at 100 TB the wide ``array<double>``
    column crosses the wire once per matched side, not once per
    candidate row on both sides of the hot shuffle.
    """
    from .clustering import assign_clusters, kmeans_fit

    centroids = kmeans_fit(
        df, vec_col, k=k, max_iter=max_iter, id_col=id_col, replayable=replayable
    )
    ids = ensure_parallelism(
        assign_clusters(df, centroids, vec_col, replayable=replayable).select(
            F.col(id_col).alias("id"), "cluster"
        )
    )
    a, b = ids.alias("a"), ids.alias("b")
    candidates = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("i"),
        F.col("b.id").alias("j"),
        F.col("a.cluster").alias("cluster"),
    )
    vecs = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    )
    va, vb = vecs.alias("va"), vecs.alias("vb")
    score = cosine(F.col("va.v"), F.col("vb.v"))
    return (
        candidates.join(va, F.col("i") == F.col("va.id"))
        .join(vb, F.col("j") == F.col("vb.id"))
        .select("i", "j", floor_lattice(score, 6).alias("cos_sim"), "cluster")
        .filter(F.col("cos_sim") >= threshold)
    )


# -- dedup clusters (connected components) ----------------------------------

def dedup_clusters(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "i",
    dst_col: str = "j",
    max_iter: int = 20,
) -> DataFrame:
    """Group near-duplicate pairs into clusters: connected components
    by hash-min label propagation, the step after pair generation in
    a dedup pipeline (keep one representative per component).

    Every node starts labeled with its own id; each round propagates
    labels across the symmetrized edge set and keeps the per-node
    minimum — one shuffle join plus one shuffle aggregation per
    round, all JVM-side. Near-duplicate graphs are unions of
    near-cliques with tiny diameters, so 2-4 rounds converge; the
    ``max_iter`` bound guards pathological chains. Convergence is
    detected exactly INSIDE the propagation aggregate (type-generic;
    labels only ever decrease): the union rows are tagged by origin,
    so the same ``groupBy`` that computes the new minimum also
    recovers the node's previous label, and a per-node ``chg`` flag
    rides the checkpointed result — the convergence probe is then a
    shuffle-free ``limit(1)`` scan of already-materialized partitions
    instead of the extra left-anti-join job (its own join + two
    exchanges per round) the previous shape paid.

    Two things make the loop safe at scale: the per-iteration
    ``localCheckpoint`` truncates the logical plan (iterative lineage
    otherwise grows without bound and analysis time explodes), and
    the symmetrized edge set is persisted once rather than recomputed
    from the (possibly expensive) pair generator every round. On a
    real cluster prefer ``spark.sparkContext.setCheckpointDir`` +
    ``.checkpoint()`` for fault tolerance; localCheckpoint trades
    executor-loss recovery for speed, which is the right default in
    a bounded batch job.

    Returns (id_col, cluster_id) for EVERY node — singletons keep
    their own id as cluster_id.
    """
    from pyspark import StorageLevel

    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("lab")
    ).localCheckpoint(eager=True)
    try:
        for _ in range(max_iter):
            prop = sym.join(labels, F.col("src") == F.col("node")).select(
                F.col("dst").alias("node"), F.col("lab"), F.lit(False).alias("own")
            )
            # ``prev`` (the node's label entering the round) is
            # recovered from the own-tagged union row in the SAME
            # aggregate that takes the minimum, so change detection
            # costs no second join: a node changed iff its new min
            # label differs from ``prev`` — including a node first
            # seen via an edge this round (prev IS NULL), exactly the
            # rows the old left-anti join counted.
            new_labels = (
                labels.select("node", "lab", F.lit(True).alias("own"))
                .unionByName(prop)
                .groupBy("node")
                .agg(
                    F.min("lab").alias("lab"),
                    F.min(F.when(F.col("own"), F.col("lab"))).alias("prev"),
                )
                .select(
                    "node",
                    "lab",
                    # null-safe (ADVICE r11): a NULL label (null node
                    # ids) must read as changed — the old left-anti
                    # join counted such rows — not as NULL-falsy; and
                    # a first-reached node (prev IS NULL) is always
                    # changed, even when its min label is also NULL.
                    (
                        F.col("prev").isNull()
                        | ~F.col("lab").eqNullSafe(F.col("prev"))
                    ).alias("chg"),
                )
                .localCheckpoint(eager=True)
            )
            changed = new_labels.where("chg").limit(1).count()
            old = labels
            labels = new_labels.select("node", "lab")
            old.unpersist()
            if changed == 0:
                break
    finally:
        sym.unpersist()
    return labels.select(
        F.col("node").alias(id_col), F.col("lab").alias("cluster_id")
    )


def ngram_overlap_pairs(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_overlap: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark-contamination scan: for every (corpus doc, eval doc)
    pair sharing at least one word n-gram, the fraction of the eval
    doc's distinct n-grams that the corpus doc also contains.

    Shape for scale: an inverted-index join on hashed n-grams, never
    corpus x eval all-pairs — postings from both sides meet on the
    shingle key, so candidates exist only where overlap exists, and
    the shuffle carries one row per (doc, distinct n-gram). The eval
    side (a benchmark set) is small; its per-doc n-gram counts join
    back as a broadcast. ``max_df`` drops corpus-side stop-phrases
    before the join (document-frequency cap, same rationale as
    jaccard_pairs): at 100 TB one boilerplate n-gram shared by 1% of
    the corpus would otherwise melt a single reducer; a capped
    n-gram can only UNDERcount ``common``, never invent overlap.

    Returns (corpus_id, eval_id, common, overlap) where
    overlap = common / |eval-doc distinct n-grams| >= min_overlap.
    """
    c_sh = shingle_table(corpus, id_col, text_col, n)
    e_sh = shingle_table(eval_df, id_col, text_col, n).persist()
    e_sizes = e_sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_eval"))
    if max_df is not None:
        # merge hint: corpus-derived list, size scales with input —
        # must never broadcast (see jaccard_pairs).
        keep = (
            c_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        c_sh = c_sh.join(keep.hint("merge"), "shingle", "left_semi")
    common = (
        c_sh.withColumnRenamed("id", "corpus_id")
        .join(e_sh.withColumnRenamed("id", "eval_id"), "shingle")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            F.broadcast(e_sizes.withColumnRenamed("id", "eval_id")), "eval_id"
        )
        .select(
            "corpus_id",
            "eval_id",
            "common",
            (F.col("common").cast("double") / F.col("n_eval")).alias("overlap"),
        )
        .filter(F.col("overlap") >= F.lit(min_overlap))
    )
    return out


def minhash_incremental_pairs(
    corpus: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs between an INCOMING BATCH and an EXISTING
    CORPUS — the steady-state dedup operation at 100 TB, where
    re-pairing the corpus against itself daily is not an option.

    Cost shape: O(|new| signatures + colliding buckets), never
    corpus x corpus or corpus x new. The corpus-side band/posting
    tables are derived in-plan here; in production you persist them
    once (e.g. ``plans.scale.write_bucketed`` on the bucket key) and
    each batch equi-joins against that layout with zero corpus
    rescan and zero corpus-side shuffle. Candidates are verified
    exactly through the inverted index (only (id, shingle) longs
    ride the shuffles), so precision is 1.0 and recall follows the
    banding curve (defaults: P > 0.9999 at j >= 0.8).

    Ids are not assumed disjoint across the two frames; a document
    present in both appears as a (corpus_id == new_id) pair.

    Returns (corpus_id, new_id, jaccard) with jaccard >= threshold.
    """
    rows_per_band = num_hashes // bands
    assert bands * rows_per_band == num_hashes, "bands must divide num_hashes"

    def sig_frame(df: DataFrame) -> DataFrame:
        docs = ensure_parallelism(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
        ).select(
            "id", F.array_distinct(shingle_hashes("__text__", n)).alias("sh")
        )
        return docs.select(
            "id", "sh", minhash_signature(F.col("sh"), num_hashes).alias("sig")
        ).persist()

    cs, ns = sig_frame(corpus), sig_frame(new_df)
    candidates = (
        _band_entries(cs, bands, rows_per_band)
        .alias("a")
        .join(
            _band_entries(ns, bands, rows_per_band).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.id").alias("corpus_id"), F.col("b.id").alias("new_id")
        )
        .distinct()
    )
    # Posting rows carry their document's set size (same fold as
    # minhash_lsh_pairs), so the Jaccard denominator falls out of the
    # verify groupBy — no corpus/batch-frame joins to re-attach sizes.
    c_post = cs.select(
        F.col("id").alias("corpus_id"),
        F.size("sh").alias("na"),
        F.explode("sh").alias("shingle"),
    )
    n_post = ns.select(
        F.col("id").alias("new_id"),
        F.size("sh").alias("nb"),
        F.explode("sh").alias("shingle"),
    )
    common = (
        candidates.join(c_post, "corpus_id")
        .join(n_post, ["new_id", "shingle"])
        .groupBy("corpus_id", "new_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return common.select("corpus_id", "new_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def tfidf_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.25,
    max_df: int = 1000,
    prefix_filter: bool = False,
) -> DataFrame:
    """All document pairs with TF-IDF cosine similarity >= threshold
    — the sparse-vector all-pairs similarity join (Bayardo et al.,
    "Scaling Up All Pairs Similarity Search", WWW 2007), the lexical
    complement of :func:`embedding_dup_pairs`: near-duplication and
    topical overlap detected from term statistics alone, no
    embeddings needed.

    ``prefix_filter`` (r11, OPT-IN; r12 adds the per-term maxweight
    bound) prunes candidate GENERATION by Bayardo's prefix principle
    with exact-integer suffix bounds (Cauchy-Schwarz on the corpus-max
    squared norm AND the AllPairs per-term maxweight "remscore") —
    result-identical output (the decision arithmetic is all
    BIGINT/DECIMAL on the same lattice as the dot products; see the
    inline proof), with the ``max_df``² fanout cap still the backstop. MEASURED
    NEGATIVE on the driver corpus and shipped opt-in: this corpus's
    df distribution is cap-dominated (at
    sf0.1 only 250 postings survive 2 <= df <= 1000 — the token
    tagging makes most terms df=1 and real words df >> 1000), the
    τ=0.8 suffix bound then prunes zero of them, and the two-stage
    shape (distinct + two verify joins) costs ~30% wall over the
    single-stage join at 100x (39.4 vs 30.2 s warm, same session,
    identical 3,112,500 pairs). Turn it on for corpora where the
    candidate join itself melts: UN-tagged natural vocabularies at
    low thresholds, where per-term fanout — not the cap — dominates
    and the prefix cut is multiplicative (the Bayardo setting).

    Vector space: the df-filtered vocabulary ``V' = {t : df(t) <=
    max_df}`` (stop-terms carry ~zero idf AND melt a reducer at 100 TB
    — dropping them from the SPACE, norms included, keeps cosine
    self-consistent rather than silently partial). Weights are
    sklearn-convention ``tf * (ln((1+N)/(1+df)) + 1)``, L2-normalized
    per document.

    Replayable-arithmetic lattice (every cross-row sum is exact):

    - ``idf_q = floor(idf * 1e6)`` — the one transcendental, floored
      immediately (the dsir.py discipline);
    - ``wq = tf * idf_q`` (BIGINT exact);
    - ``norm2 = sum(wq^2)`` as DECIMAL(38,0) — exact and order-free
      (wq can reach ~3e10, so the square overflows BIGINT; DECIMAL
      keeps the sum exact in both engines);
    - ``nwq = floor(wq * 1e6 / sqrt(double(norm2)))`` — one cast, one
      IEEE sqrt (correctly rounded by IEEE 754 in every engine), one
      division, floored onto the 1e-6 lattice;
    - ``dot_q = sum(nwq_i * nwq_j)`` over shared terms — BIGINT exact
      (each product <= 1e12), order-free;
    - the threshold compares INTEGERS: ``dot_q >= floor(threshold *
      1e12)``; the reported ``cos_sim = dot_q / 1e12`` is one exact
      division.

    Plan shape: one posting-table build (term_stats: one explode, one
    ``(id, term)`` shuffle), df counts partial-aggregated on the term
    key, norms on the id key; the pair generation is an
    inverted-index self-join on the term key with per-term fanout
    bounded by ``max_df**2`` (terms with df=1 cannot form a pair and
    are skipped on the join side, though they still count in norms).
    All corpus-derived joins are sort-merge (merge-hinted); only the
    1-row corpus total broadcasts — the jaccard_pairs invariant.
    """
    from .text import term_stats

    ts = term_stats(df, id_col, text_col)
    # posting feeds df counts, norms, and both self-join sides.
    dfreq = ts.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    tot = df.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        ts.join(dfreq.filter(F.col("dft") <= max_df).hint("merge"), "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "id",
            "term",
            "dft",
            (
                F.col("tf")
                * F.floor(
                    (
                        F.log(
                            (F.lit(1) + F.col("n_docs"))
                            / (F.lit(1) + F.col("dft"))
                        )
                        + F.lit(1.0)
                    )
                    * F.lit(1e6)
                ).cast("long")
            ).alias("wq"),
        )
        .persist()
    )
    # `w` feeds the norm aggregation and both self-join sides, so it
    # stays cached until the returned pair frame is consumed; record
    # it so release_caches() can reclaim the residual (the spans.py
    # lifecycle contract).
    register_cache(w, owner="dedup")
    norm2 = w.groupBy("id").agg(
        F.sum(F.col("wq").cast("decimal(38,0)") * F.col("wq")).alias("n2")
    )
    nw = (
        w.join(norm2.hint("merge"), "id")
        .select(
            "id",
            "term",
            "dft",
            F.floor(
                F.col("wq").cast("double")
                * F.lit(1e6)
                / F.sqrt(F.col("n2").cast("double"))
            )
            .cast("long")
            .alias("nwq"),
        )
    )
    joinable = nw.where(F.col("dft") >= 2).select("id", "term", "dft", "nwq")
    thr_q = int(math.floor(threshold * 1e12))
    if not prefix_filter:
        # single-stage inverted-index join: every shared term meets,
        # the aggregate IS the verification. Kept as the A/B lane and
        # for threshold ~0 corpora where no prefix can prune.
        a, b = joinable.alias("a"), joinable.alias("b")
        # merge hint: BOTH self-join sides are the corpus-derived
        # posting table — left to the planner the build side
        # broadcast-promotes under the small-SF size estimate and
        # OOMs at 100x (the jaccard_pairs invariant; audited r9: the
        # un-hinted plan chose BroadcastHashJoin).
        return (
            a.join(
                b.hint("merge"),
                (F.col("a.term") == F.col("b.term"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
            .agg(
                F.count(F.lit(1)).alias("shared_terms"),
                F.sum(F.col("a.nwq") * F.col("b.nwq")).alias("dot_q"),
            )
            .where(F.col("dot_q") >= F.lit(thr_q))
            .select(
                "i",
                "j",
                "shared_terms",
                (F.col("dot_q").cast("double") / F.lit(1e12)).alias("cos_sim"),
            )
        )
    # Bayardo-style prefix filtering (r11 — VERDICT r10 item 6),
    # result-identical by TWO complementary suffix bounds: order each
    # document's joinable terms in ONE global order (df ASC, term ASC
    # — rarest first, so prefixes join on the smallest posting lists)
    # and keep term k in the PREFIX iff the suffix from k still
    # permits a qualifying pair under BOTH bounds. For any pair whose
    # shared terms all sit in x's suffix:
    #
    # 1. Cauchy-Schwarz:
    #    dot_q^2 <= ssq_suffix(x) * ssq(y) <= ssq_suffix(x) * MAX_SSQ,
    #    where MAX_SSQ is the corpus maximum of sum(nwq^2) — computed,
    #    not assumed (the r11 review showed the tempting "<= 1e12"
    #    premise can be overshot by floor-of-IEEE rounding in nwq),
    #    and carried as a 1-row broadcast. Tighter when the suffix is
    #    many small weights.
    # 2. Per-term maxweight (r12 — VERDICT r11 item 5, the AllPairs
    #    "remscore" bound): dot_q <= sum_{t in suffix} nwq_x[t] *
    #    maxw(t) with maxw(t) = corpus max of nwq over term t's
    #    postings (weights are non-negative: idf >= 1 by
    #    construction, so every unshared term contributes >= 0 to the
    #    bound). Tighter when the suffix holds few, heavy,
    #    low-maxweight terms — the regime where a near-unique term's
    #    posting list would otherwise stay in every prefix. maxw is
    #    corpus-derived (vocabulary-sized), so it attaches by a
    #    merge-hinted term-keyed join, never a broadcast — the
    #    jaccard_pairs invariant.
    #
    # Pruning the suffix is safe once EITHER bound drops below the
    # threshold; both comparisons run in DECIMAL(38,0) on the exact
    # integer lattice, so the output set is bit-identical to the
    # unfiltered lane (pinned by tests + the q144 oracle).
    # A qualifying pair must therefore share at least one PREFIX
    # term of each member, so candidates = (prefix postings) x
    # (full postings) on the term key — per-term fanout drops from
    # df^2 to prefix_df * df, with the max_df cap still the
    # backstop. Docs whose whole vector falls under either bound
    # generate an empty prefix AND can never qualify, consistently.
    # Verification gathers ALL shared terms back from the full
    # posting table (two keyed joins), so shared_terms/dot_q are
    # computed over the identical term set as the unfiltered lane.
    max_ssq = (
        joinable.groupBy("id")
        .agg(F.sum(F.col("nwq") * F.col("nwq")).alias("__ssq__"))
        .agg(F.max("__ssq__").alias("__max_ssq__"))
    )
    maxw = joinable.groupBy("term").agg(F.max("nwq").alias("__maxw__"))
    wnd = (
        Window.partitionBy("id")
        .orderBy(F.col("dft").asc(), F.col("term").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    thr_sq = F.lit(thr_q).cast("decimal(38,0)") * F.lit(thr_q).cast(
        "decimal(38,0)"
    )
    prefix = (
        joinable.join(maxw.hint("merge"), "term")
        .withColumn(
            "__ssq_from__", F.sum(F.col("nwq") * F.col("nwq")).over(wnd)
        )
        .withColumn(
            "__mw_from__",
            F.sum(
                (F.col("nwq") * F.col("__maxw__")).cast("decimal(38,0)")
            ).over(wnd),
        )
        .crossJoin(F.broadcast(max_ssq))
        .where(
            (
                F.col("__ssq_from__").cast("decimal(38,0)")
                * F.col("__max_ssq__").cast("decimal(38,0)")
                >= thr_sq
            )
            & (F.col("__mw_from__") >= F.lit(thr_q).cast("decimal(38,0)"))
        )
        .select("id", "term")
    )
    full = joinable.select("id", "term", "nwq")
    # The bound holds for EACH member separately, so a qualifying
    # pair shares a prefix term of the smaller-id doc in particular —
    # prefix-side < full-side suffices (an `!=` join would double the
    # fanout generating both orientations; measured r11).
    cand = (
        prefix.alias("pa")
        .join(
            full.select("id", "term").alias("fb").hint("merge"),
            (F.col("pa.term") == F.col("fb.term"))
            & (F.col("pa.id") < F.col("fb.id")),
        )
        .select(F.col("pa.id").alias("i"), F.col("fb.id").alias("j"))
        .distinct()
    )
    p1, p2 = full.alias("p1"), full.alias("p2")
    return (
        cand.join(p1.hint("merge"), F.col("i") == F.col("p1.id"))
        .join(
            p2.hint("merge"),
            (F.col("j") == F.col("p2.id"))
            & (F.col("p1.term") == F.col("p2.term")),
        )
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("shared_terms"),
            F.sum(F.col("p1.nwq") * F.col("p2.nwq")).alias("dot_q"),
        )
        .where(F.col("dot_q") >= F.lit(thr_q))
        .select(
            "i",
            "j",
            "shared_terms",
            (F.col("dot_q").cast("double") / F.lit(1e12)).alias("cos_sim"),
        )
    )
