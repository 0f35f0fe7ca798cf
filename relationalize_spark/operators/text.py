"""Text analysis for large-scale document pipelines.

Operators are pure Catalyst expressions (split / regexp /
higher-order functions) running at scan speed over any number of
documents — except where an Arrow-batched pandas UDF is measurably
faster than the interpreted-HOF form (winnowing's gram/minima core),
the same trade ``dedup.minhash_signature`` makes. Each operator has
a matching ANSI-SQL oracle in :mod:`relationalize_spark.queries`
(winnowing via its md5_60 twin, q124).

Operators: tokenization + counts, quality scoring (stopword/digit/
length signals), n-gram-heuristic language ID, and document
fingerprinting (normalized md5 + winnowing-style rolling hash).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Whitespace, spelled out — NOT ``\s``: the shorthand is not
#: engine-identical (Java's ``\s`` = exactly this ASCII class
#: INCLUDING vertical tab U+000B; RE2's — DuckDB — drops U+000B), so
#: a ``\s``-based tokenizer splits ``"a\x0bb"`` into two tokens on
#: Spark and one on DuckDB (r9 canonicalize finding, generalized to
#: the shared tokenizer in r10). ``WS_CHARS`` is the bare class body
#: for composing into other classes; ``WS`` is the Spark-side token
#: splitter; SQL oracles embed the same class so both engines
#: tokenize byte-for-byte. Java semantics are UNCHANGED by spelling
#: it out (``\s`` == ``[ \t\n\x0B\f\r]`` exactly under Java regex).
WS_CHARS = " \\t\\n\\x0B\\f\\r"
WS = f"[{WS_CHARS}]+"

#: Tiny per-language stopword profiles for the heuristic language ID.
#: Checked in a fixed priority order (ties go to the earlier entry).
LANG_PROFILES: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "and", "of", "to", "is", "in", "that", "it")),
    ("es", ("el", "la", "de", "que", "y", "en", "los", "se")),
    ("de", ("der", "die", "das", "und", "ist", "nicht", "ein", "zu")),
    ("fr", ("le", "la", "les", "et", "des", "est", "une", "dans")),
    ("zh", ("的", "是", "不", "了", "在", "人", "有", "我")),
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    return F.split(_c(text), WS)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


#: BPE-ish pre-tokenizer pattern (GPT-2 flavored, lookahead-free so it
#: behaves identically under Java regex and RE2): contraction
#: suffixes, letter runs, digit runs, punctuation runs. The
#: whitespace exclusion is the explicit WS_CHARS class (same Java vs
#: RE2 ``\s`` divergence as the tokenizer).
BPE_PATTERN = (
    r"'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]+|"
    f"[^A-Za-z0-9{WS_CHARS}]+"
)


def bpe_tokens(text: Column | str) -> Column:
    """Subword-style pre-tokens via the BPE-ish regex — the unit a
    byte-pair tokenizer would merge from; counting them approximates
    LLM token counts far better than whitespace words."""
    return F.regexp_extract_all(_c(text), F.lit(BPE_PATTERN), 0)


def bpe_token_count(text: Column | str) -> Column:
    return F.size(bpe_tokens(text))


def char_count(text: Column | str) -> Column:
    return F.length(_c(text))


def avg_word_length(text: Column | str) -> Column:
    squeezed = F.length(F.regexp_replace(_c(text), WS, ""))
    return squeezed.cast("double") / token_count(text)


def digit_ratio(text: Column | str) -> Column:
    digits = F.size(F.regexp_extract_all(_c(text), F.lit(r"[0-9]"), 0))
    return digits.cast("double") / char_count(text)


def stopword_ratio(
    text: Column | str, stopwords: tuple[str, ...] = LANG_PROFILES[0][1]
) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits.cast("double") / F.size(toks)


def profile_pattern(words: tuple[str, ...]) -> str:
    """Regex for one language profile. Latin-script profiles anchor on
    \\b word boundaries; CJK profiles use plain substring alternation —
    \\b only fires at [A-Za-z0-9_] transitions in both Java regex and
    RE2, so a boundary-anchored Han character can never match (and CJK
    text has no spaces to bound anyway). Shared by the Spark operator
    and the generated DuckDB oracle so both engines stay in lockstep."""
    cjk = any(ord(ch) > 0x2E7F for w in words for ch in w)
    if cjk:
        return "(?:" + "|".join(words) + ")"
    return r"\b(?:" + "|".join(words) + r")\b"


def lang_hits(text: Column | str, words: tuple[str, ...]) -> Column:
    """Count of stopword hits for one language profile."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(profile_pattern(words)), 0))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits,
    fixed priority order on ties (first profile wins)."""
    hits = [(lang, lang_hits(text, words)) for lang, words in LANG_PROFILES]
    expr = F.lit(LANG_PROFILES[-1][0])
    # Build the CASE chain back-to-front so earlier languages win ties.
    for i in range(len(hits) - 2, -1, -1):
        lang, h = hits[i]
        later = [other for _, other in hits[i + 1:]]
        cond = h >= F.greatest(*later) if len(later) > 1 else h >= later[0]
        expr = F.when(cond, lang).otherwise(expr)
    return expr


def quality_score(text: Column | str) -> Column:
    """Composite document-quality signal in [0, 1]: more stopwords and
    less digit noise and reasonable length score higher."""
    length_signal = F.least(F.lit(1.0), token_count(text).cast("double") / 100.0)
    return (
        0.4 * stopword_ratio(text)
        + 0.3 * (F.lit(1.0) - digit_ratio(text))
        + 0.3 * length_signal
    )


def char_entropy(text: Column | str) -> Column:
    """Shannon entropy (bits/char) of the character distribution —
    the signal behind compression-ratio quality filters (Gopher-style
    repetition/gibberish screens): natural prose sits ~4 bits/char,
    repeated boilerplate and single-char floods sit far lower, random
    noise higher.

    Pure expression, zero shuffle: H = log2(T) - sum(n_c*log2(n_c))/T
    over per-char counts computed with higher-order functions. Work
    is O(alphabet * length) per document — alphabet-bounded, so it
    stays scan-speed at any corpus size. Empty/null text scores 0.

    Replayable arithmetic (r10, the q143 lesson applied before it
    bites): the old form float-folded ``n*log2(n)`` terms in ARRAY
    order and rounded — the fold order follows each engine's
    distinct-char order, so a 1-ulp drift could flip the 9-dp round
    on a boundary document. Each term now floors onto the 1e-9
    BIGINT lattice (the integer fold is order-free), and H is ONE
    exact division: ``(floor(log2(T)*1e9)*T - sum_q) / (T*1e9)`` —
    bit-identical in any engine.
    """
    c = _c(text)
    cs = F.split(c, "")
    counts = F.transform(
        F.array_distinct(cs),
        lambda ch: F.size(F.filter(cs, lambda x: x == ch)).cast("double"),
    )
    total = F.size(cs)
    sq = F.aggregate(
        F.transform(
            counts, lambda n: F.floor(n * F.log2(n) * F.lit(1e9))
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    # clamp at zero: H >= 0 mathematically, but the two independent
    # floors can land the numerator at -1/-2 quanta for degenerate
    # single-char docs (floor(log2(T)*1e9)*T vs floor(T*log2(T)*1e9)
    # — r10 review, reproduced for "aaa"); a quality screen must
    # never see a negative Shannon entropy
    num = F.greatest(
        F.floor(F.log2(total.cast("double")) * F.lit(1e9)) * total - sq,
        F.lit(0).cast("long"),
    )
    h = num.cast("double") / (total.cast("double") * F.lit(1e9))
    return F.when(c.isNull() | (F.length(c) == 0), F.lit(0.0)).otherwise(h)


def fingerprint(text: Column | str) -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-squeezed text. Equal fingerprints == exact dup modulo
    whitespace/case."""
    return F.md5(F.lower(F.trim(F.regexp_replace(_c(text), WS, " "))))


def _winnow_minima_fast(k: int, window: int):
    """Arrow-batch winnowing core: normalized text in, sorted distinct
    window-minima (``array<long>``) out. Grams are byte-level rolling
    polynomials over the UTF-8 bytes (Horner with an odd 64-bit
    multiplier, wrapping mod 2^64) finished with the splitmix64
    avalanche, so gram values are well-distributed regardless of the
    input alphabet; the sliding-window minimum is ``window``
    ``np.minimum`` passes over shifted views — everything is
    whole-array numpy, ~k+window vector ops per document instead of
    ~13 interpreted lambda evaluations per character (the r4 JVM
    form). Signed-int64 minima keep ``least``-compatible ordering.

    Scale shape: one Arrow transfer of the normalized strings per
    batch (no per-char hash arrays crossing the boundary), zero
    shuffles — fuses into the scan like every other text operator.
    """
    import numpy as np

    mult = np.uint64(0x9E3779B97F4A7C15)  # odd golden-gamma multiplier

    def mix64(x: "np.ndarray") -> "np.ndarray":
        # splitmix64 finalizer (public domain constant set): full
        # avalanche so low-entropy ASCII bytes still give uniform
        # 64-bit gram values.
        x = x ^ (x >> np.uint64(30))
        x = x * np.uint64(0xBF58476D1CE4E5B9)
        x = x ^ (x >> np.uint64(27))
        x = x * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    @F.pandas_udf("array<long>")
    def minima(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if s is None:
                out.append(None)
                continue
            b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
            n = b.size
            if n >= k:
                g = b[: n - k + 1].copy()
                for j in range(1, k):
                    g *= mult
                    g += b[j : j + n - k + 1]
            else:
                # short doc: one whole-text gram (matches the legacy
                # paths' greatest(n_grams, 1) fallback)
                acc = np.uint64(0)
                for v in b:
                    acc = acc * mult + v
                g = np.array([acc], dtype=np.uint64)
            gi = mix64(g).view(np.int64)
            nw = gi.size - (window - 1)
            if nw >= 1:
                m = gi[:nw].copy()
                for j in range(1, window):
                    np.minimum(m, gi[j : j + nw], out=m)
            else:
                m = gi.min(keepdims=True)
            out.append(np.unique(m).tolist())
        return pd.Series(out)

    return minima


def winnow_fingerprint(
    text: Column | str, k: int = 8, window: int = 4, gram_hash: str = "fast64"
) -> Column:
    """Winnowing-style robust fingerprint: hash all k-grams of the
    normalized text, take the min hash of each sliding window,
    fingerprint = md5 over the distinct sorted window-minima. Local
    edits only perturb nearby windows, so near-identical documents
    mostly collide.

    ``gram_hash`` picks the gram-hash stage:

    - ``'fast64'`` (production default as of r5): byte-level rolling
      grams + sliding minima computed in ONE vectorized numpy pass
      per Arrow batch (:func:`_winnow_minima_fast`) — the
      minhash_signature treatment (dedup.py) applied here. The two
      prior JVM formulations were interpreted-HOF-bound: ~13
      per-element lambda evaluations per char (k concat folds + hash
      + window least folds); a JVM char-level rolling hash was also
      tried and measured 2.4× SLOWER than the concat folds
      (per-element zip_with overhead dominates — commit-logged
      negative result). The Arrow batch path does the same
      arithmetic as ~k+window whole-array numpy ops.
    - ``'xxhash64'``: the r2-r4 production path (JVM concat-fold gram
      strings + xxhash64), kept bit-stable for continuity.
    - ``'md5_60'``: 60 bits of md5 per gram string (slowest; exists
      in every SQL engine) — with it the whole fingerprint,
      including the final ``md5(to_json(sorted minima))`` (both
      engines render a bigint list as ``[1,2,3]``), replays verbatim
      in DuckDB: q124's full value oracle. The twin that proves the
      window/minima/md5 machinery value-level while fast64/xxhash64
      stay rows-only (q33)."""
    if gram_hash == "fast64":
        t = F.lower(F.trim(F.regexp_replace(_c(text), WS, " ")))
        return F.md5(F.to_json(_winnow_minima_fast(k, window)(t)))
    t = F.lower(F.trim(F.regexp_replace(_c(text), WS, " ")))
    chars = F.split(t, "")
    n_chars = F.size(chars)
    n_full = F.greatest(n_chars - (k - 1), F.lit(0))

    # All formulations slice the char array (regex evaluated a
    # constant ~k+2 times per row) and zip_with-fold k shifted
    # slices — NOT transform(sequence, i -> t.substr(i, k)): the
    # captured `t` would re-run the normalization regex once per gram
    # (quadratic; measured ~20 ms/doc even after the window-stage
    # fix). Only FULL k-char grams exist (substr(i, k) for
    # i <= n-k+1 was always full in the original form too).
    def _shifted(base: Column):
        return [F.slice(base, 1 + j, n_full) for j in range(k)]

    if gram_hash in ("xxhash64", "md5_60"):
        # String-gram variants: build the gram strings by concat fold.
        # xxhash64 keeps the pre-r4 fingerprint values bit-for-bit;
        # md5_60 (60 bits of md5) exists so q124's DuckDB oracle can
        # replay the whole pipeline value-level.
        if gram_hash == "xxhash64":
            gh = lambda s: F.xxhash64(s)  # noqa: E731
        else:
            gh = lambda s: F.conv(  # noqa: E731
                F.substring(F.md5(s), 1, 15), 16, 10
            ).cast("long")
        parts = _shifted(chars)
        acc = parts[0]
        for p in parts[1:]:
            acc = F.zip_with(acc, p, lambda a, b: F.concat(a, b))
        # short docs (< k chars): one whole-text gram, matching the
        # original greatest(n_grams, 1) fallback
        gram_strs = F.when(n_full >= 1, acc).otherwise(F.array(t))
        grams = F.transform(gram_strs, lambda g: gh(g))
    else:
        raise ValueError(
            f"gram_hash must be 'fast64', 'xxhash64' or 'md5_60', got {gram_hash!r}"
        )
    # Sliding-window minima WITHOUT capturing `grams` inside a
    # per-window lambda: Catalyst does no CSE inside higher-order
    # lambdas, so `transform(sequence(1, n_windows), i ->
    # array_min(slice(grams, i, window)))` — the previous formulation
    # — re-built the ENTIRE gram array (n hashes + the normalization
    # regex) once PER WINDOW: O(n^2) hashing, ~1 s/document, hidden
    # for two rounds because the rows-only gate only count()s and
    # Catalyst prunes the unprojected fingerprint. Same defect class
    # as round 3's per-bit SimHash re-tokenization. The fix: `window`
    # shifted slices zip_with'd pairwise by least() — `grams` is
    # evaluated a constant ~window+2 times per row instead of
    # n_windows times.
    n = F.size(grams)
    nw = n - (window - 1)
    full = F.slice(grams, 1, nw)
    for j in range(1, window):
        full = F.zip_with(
            full, F.slice(grams, 1 + j, nw), lambda a, b: F.least(a, b)
        )
    minima = F.when(n >= window, full).otherwise(
        F.array(F.array_min(grams))
    )
    return F.md5(F.to_json(F.array_sort(F.array_distinct(minima))))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard per-document text statistics."""
    return df.withColumns(
        {
            "n_chars_": char_count(text_col).cast("int"),
            "n_tokens_": token_count(text_col).cast("int"),
            "avg_word_len_": avg_word_length(text_col),
            "digit_ratio_": digit_ratio(text_col),
            "stopword_ratio_": stopword_ratio(text_col),
            "quality_score_": quality_score(text_col),
            "lang_id_": lang_id(text_col),
            "fingerprint_": fingerprint(text_col),
        }
    )


# -- term statistics / relevance ranking ------------------------------------

def term_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(document, term) frequency table: (id, term, tf, dl) where
    ``tf`` is the term's count in the document and ``dl`` the document
    length in tokens. One explode + one shuffle on (id, term); the
    downstream df/idf aggregates are partial-aggregated map-side.
    Terms are lowercased whitespace tokens — swap ``tokens`` for
    ``bpe_tokens`` for subword statistics."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
            token_count(text_col).alias("dl"),
        )
        .groupBy("id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 ranking of documents against a bag of query terms.

    Shape for scale: the per-term document frequencies and the corpus
    aggregates (N, avgdl) are tiny one-row/`len(query_terms)`-row
    frames — both broadcast — while the posting rows for the query
    terms come out of ONE filtered pass over the term table (the
    ``term IN (...)`` predicate prunes before any shuffle). Nothing
    quadratic, no full-corpus scoring: only documents containing at
    least one query term are scored.

    Returns (id, score) for the top-k by BM25 descending, id
    ascending for determinism.

    Replayable arithmetic (r10 — the q143 lesson applied before it
    bites): the old form summed raw double contributions and rounded
    — a float-accumulation-order dependence (Spark partial-agg order
    vs DuckDB's) that was green only because no corpus value had yet
    landed on a 6-dp boundary. Now: ``avgdl`` is ONE division of
    exact BIGINTs (never a float AVG); the transcendental ``idf``
    floors onto the 1e-9 BIGINT lattice immediately; each term's
    contribution — a fixed IEEE expression of bit-identical inputs —
    floors onto a 1e-6 lattice BEFORE the per-doc sum, so the sum is
    exact integer arithmetic (order-free) and the final score is one
    exact division. Ranking ties compare integers."""
    ts = term_stats(df, id_col, text_col)
    qterms = [t.lower() for t in query_terms]
    postings = ts.filter(F.col("term").isin(qterms))

    corpus = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(token_count(text_col).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf_q = F.floor(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        * F.lit(1e9)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib_q = F.floor(
        (idf_q.cast("double") / F.lit(1e9)) * tf_part * F.lit(1e6)
    ).cast("long")
    return (
        postings.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(corpus))
        .groupBy("id")
        .agg(F.sum(contrib_q).alias("sq"))
        .select(
            "id", (F.col("sq").cast("double") / F.lit(1e6)).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def word_ngrams(text: Column | str, n: int = 4) -> Column:
    """Array of space-joined word ``n``-grams in string form — the
    reporting surface for boilerplate/contamination inspection (the
    dedup family joins on *hashed* shingles instead; see
    ``dedup.shingle_hashes``).

    Built from ``n`` shifted slices zip_with-folded by string concat,
    NOT ``transform(sequence(...), i -> slice(toks, i, n))``: Catalyst
    does no CSE inside higher-order lambdas, so the captured ``toks``
    (a split over the whole document) would be re-evaluated once per
    gram — measured quadratic in document length (4k->8k tokens:
    14.4 s -> 60 s for 8 docs). Same defect class as the winnowing
    window stage fixed this round; here ``toks`` evaluates a constant
    ``n + 1`` times per row."""
    toks = tokens(text)
    n_grams = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, F.greatest(n_grams, F.lit(0)))
    for k in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + k, F.greatest(n_grams, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(n_grams >= 1, acc).otherwise(
        F.array().cast("array<string>")
    )


def phrase_doc_frequency(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 4
) -> DataFrame:
    """(phrase, df): how many documents contain each distinct word
    n-gram. One explode + one partial-aggregated groupBy — the
    map-side combine collapses each partition to its distinct
    phrases, so the shuffle carries distinct (phrase, partial-count)
    rows, not postings."""
    from ..plans.scale import ensure_parallelism

    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text__"))
    )
    return (
        base.select(
            F.explode(F.array_distinct(word_ngrams("__text__", n))).alias("phrase")
        )
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def boilerplate_phrases(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    top_k: int = 20,
) -> DataFrame:
    """The ``top_k`` most corpus-frequent word n-grams — boilerplate
    candidates (headers, disclaimers, navigation chrome) to strip
    before training. Deterministic order: df desc, phrase asc."""
    return (
        phrase_doc_frequency(df, id_col, text_col, n)
        .orderBy(F.desc("df"), F.asc("phrase"))
        .limit(top_k)
    )


def max_multiplicity(arr: Column) -> Column:
    """Highest multiplicity of any element in a string array, computed
    as a run-length pass over the SORTED array with one ``aggregate``
    higher-order function. Stays inside codegen — no explode, no
    per-document groupBy shuffle — so repetition scoring runs at scan
    speed no matter how large the corpus is."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(F.sort_array(arr), zero, step, lambda acc: acc["best"])


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    top_unigram_max: float = 0.20,
    top_bigram_max: float = 0.18,
) -> DataFrame:
    """Gopher-style within-document repetition signals: the corpus
    share of the most frequent word and bigram, plus type/token
    ratio, and a ``repetitious`` flag a curation pipeline filters on
    (thresholds follow the Gopher paper's most-common-n-gram rules,
    re-expressed over words).

    Everything is array arithmetic on one row — zero shuffles, unlike
    the naive explode + double-groupBy formulation whose first shuffle
    carries every token in the corpus."""
    w = tokens(text_col)
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n = F.size(w).cast("long")
    top_uni = max_multiplicity(w).cast("double") / n
    top_bi = max_multiplicity(bigrams).cast("double") / (n - 1)
    return df.select(
        F.col(id_col),
        n.alias("n_words"),
        (F.size(F.array_distinct(w)).cast("double") / n).alias(
            "distinct_word_ratio"
        ),
        top_uni.alias("top_unigram_frac"),
        top_bi.alias("top_bigram_frac"),
        ((top_uni > top_unigram_max) | (top_bi > top_bigram_max)).alias(
            "repetitious"
        ),
    )


#: PII patterns, applied in order. Kept lookaround-free and
#: anchored with \b so Java regex (Spark) and RE2 (DuckDB oracle)
#: agree byte-for-byte. Counting runs each pattern against the
#: ORIGINAL text; redaction applies them sequentially.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{2,3}-\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
]


def pii_count(text: Column | str, kind: str) -> Column:
    """Occurrences of one PII pattern kind in the raw text (long)."""
    pat = {k: p for k, p, _ in PII_PATTERNS}[kind]
    return F.size(F.regexp_extract_all(_c(text), F.lit(pat), 0)).cast("long")


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with its typed placeholder token.

    Pure Catalyst regexp_replace chain — scan-speed, no Python in
    the hot path, safe to run over every document of a 100 TB corpus
    as a projection fused into the scan."""
    out = _c(text)
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap —
    the unit a training pipeline feeds to a tokenizer. Returns
    (id, chunk_id, chunk_text, n_tokens).

    Windows start every ``chunk_tokens - overlap`` tokens; the last
    window is the remainder (>= 1 token, possibly shorter).

    Arrow-batch formulation (r5): one pandas UDF splits, windows, and
    rejoins per batch, then ``F.inline`` explodes the returned
    ``array<struct>``. Output-identical to the original Catalyst form
    (the split regex is the exact Java ``\\s`` class, so token
    boundaries match Spark's ``split``) and measured 46× faster at
    20k-token documents — the Catalyst form captured the token array
    in the per-start lambda, which Catalyst re-evaluates per chunk
    (no CSE inside HOF lambdas): ~n²/step per document. The r4
    zip_with strided-fold cure was ALSO tried and measured 2.7-5.8×
    SLOWER than even the quadratic form at 2k-20k tokens (the
    ``chunk/g × g`` fold constant: every window prefix is rebuilt at
    every fold depth) — commit-logged negative result; chunking's
    output is a near-copy of the text, so the string assembly belongs
    in Python/Arrow, not in an expression fold. No shuffle; chunking
    still fuses into the scan (scan -> ArrowEvalPython -> generate).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    import math
    import re

    step = chunk_tokens - overlap
    # Exact Java-regex \s class (ASCII-only, \x0b = Java \x0B): token
    # boundaries — and so chunk contents — match F.split(text, '\s+')
    # byte-for-byte, which is what the q77 DuckDB oracle replays.
    ws_java = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf("array<struct<chunk_id:int,chunk_text:string,n_tokens:bigint>>")
    def chunks(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if s is None:
                # null text -> no chunks (inline drops the row), same
                # as posexplode over a null array in the old form
                out.append(None)
                continue
            toks = ws_java.split(s)
            n = len(toks)
            smax = math.ceil(max(n - chunk_tokens, 0) / step) * step
            rows = []
            for cid, st in enumerate(range(0, smax + 1, step)):
                piece = toks[st:st + chunk_tokens]
                if piece:
                    rows.append((cid, " ".join(piece), len(piece)))
            out.append(rows)
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), F.inline(chunks(text_col)))


def pack_shards(
    df: DataFrame,
    id_col: str = "id",
    order_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
    target_tokens: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """Assign chunks to training shards of ~``target_tokens`` by
    greedy running-sum packing. Returns the input plus
    (bucket, shard_id).

    Scale shape: a single global running sum would serialize on one
    partition, so packing runs inside ``n_buckets`` deterministic
    hash buckets (shard ids are (bucket, shard_id) pairs) — each
    bucket's window sorts locally after one hash partition, which is
    exactly how a 1000-executor packing job should run. Assignment is
    deterministic: bucket by id hash, order by (id, order_col),
    shard = floor((cumsum - n) / target).
    """
    from .sampling import hash_bucket

    bucket = hash_bucket(id_col, n_buckets)
    w = Window.partitionBy("bucket").orderBy(
        F.col(id_col).asc(), F.col(order_col).asc()
    )
    csum = F.sum(F.col(tokens_col)).over(w)
    return (
        df.withColumn("bucket", bucket)
        .withColumn(
            "shard_id",
            F.floor((csum - F.col(tokens_col)) / F.lit(target_tokens)).cast("long"),
        )
    )


def unigram_nll_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """KenLM-style fluency filter, reduced to its scalable core: score
    every document by its average negative log-likelihood under a
    Laplace-smoothed unigram model of the corpus itself. High-NLL
    documents are the gibberish/ocr-noise tail a curation pipeline
    drops.

    Two aggregation passes over the posting table (term counts ->
    vocabulary; join back -> per-doc sum), both partial-aggregated;
    corpus totals ride a broadcast 1-row cross join. Per-token
    log-probabilities are FLOORED onto a 1e-9 BIGINT lattice BEFORE
    the per-document sum — the repo's replayable-oracle discipline
    (q131/q133/q144). ``round(...,9) -> DECIMAL`` is NOT sufficient
    here: round-on-a-transcendental is unstable across Spark's own
    collect vs whole-stage-agg evaluation paths at a half-way
    boundary (observed r9, q143), while floor is bit-stable. The
    per-doc sum stays in exact BIGINT quanta; ``avg_nll`` is ONE
    IEEE division of exactly-representable values at the very end
    (|s| <= dl * 4e10 << 2^53 for any realistic document), so both
    the score and its oracle replay are bit-identical.
    """
    ts = term_stats(df, id_col, text_col)
    vocab = ts.groupBy("term").agg(F.sum("tf").alias("c"))
    tot = vocab.agg(
        F.sum("c").alias("n_corpus"), F.count(F.lit(1)).alias("v_size")
    )
    logp = vocab.crossJoin(F.broadcast(tot)).select(
        "term",
        F.floor(
            F.log((F.col("c") + 1) / (F.col("n_corpus") + F.col("v_size")))
            * F.lit(1e9)
        )
        .cast("long")
        .alias("logp_q"),
    )
    return (
        ts.join(logp, "term")
        .groupBy("id", "dl")
        .agg(F.sum(F.col("tf") * F.col("logp_q")).alias("s"))
        .select(
            F.col("id").alias(id_col),
            F.col("dl").alias("n_tokens"),
            (
                (-F.col("s")).cast("double")
                / (F.col("dl").cast("double") * F.lit(1e9))
            ).alias("avg_nll"),
        )
    )


def bigram_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(document, bigram) frequency table: ``(id, v, w, dl, tf)``
    where ``(v, w)`` are consecutive lowercased whitespace tokens,
    ``dl`` the document length in tokens, and ``tf`` the bigram's
    count in the document. Documents with fewer than two tokens
    contribute no rows. One explode + one shuffle on ``(id, v, w)``
    (partial-aggregated map-side), the same posting shape as
    :func:`term_stats` one order up."""
    toks = tokens(F.lower(F.col(text_col)))
    return (
        df.select(
            F.col(id_col).alias("id"),
            toks.alias("__toks__"),
            token_count(text_col).alias("dl"),
        )
        .where(F.col("dl") >= 2)
        .select(
            "id",
            "dl",
            F.explode(
                F.zip_with(
                    F.slice(F.col("__toks__"), 1, F.col("dl") - 1),
                    F.slice(F.col("__toks__"), 2, F.col("dl") - 1),
                    lambda a, b: F.struct(a.alias("v"), b.alias("w")),
                )
            ).alias("bg"),
        )
        .groupBy("id", F.col("bg.v").alias("v"), F.col("bg.w").alias("w"), "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bigram_nll_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    lam: float = 0.75,
) -> DataFrame:
    """Interpolated-bigram fluency filter — :func:`unigram_nll_scores`
    one order up, the scalable core of a KenLM-style perplexity
    filter (Heafield, "KenLM", 2011; CCNet uses LM perplexity as its
    quality axis). Scores every document with at least two tokens by
    its average negative log-likelihood under

        p(w | v) = lam * (c(v,w) + 1) / (c(v.) + V)
                 + (1 - lam) * (c(w) + 1) / (N + V)

    — a Laplace-smoothed bigram interpolated with the Laplace
    unigram, fit on the corpus itself. High-NLL documents are the
    gibberish tail; pathologically LOW NLL flags boilerplate.
    Returns ``(id_col, n_tokens, avg_nll)`` with the mean taken over
    the ``dl - 1`` bigram positions.

    Plan shape: the bigram posting table (one explode, shuffle keyed
    by ``(id, v, w)``) feeds corpus bigram counts (``(v, w)``-keyed,
    partial-aggregated); context counts ``c(v.)`` reduce from the
    bigram counts (``v``-keyed — never a second pass over the
    corpus); unigram counts come from :func:`term_stats`. All three
    model tables are corpus-vocabulary-proportional, so the joins
    back onto the posting table are sort-merge (never broadcast —
    the dedup.py invariant); the 1-row corpus totals ride a broadcast
    cross join. Per-bigram log-probs are FLOORED onto a 1e-9 BIGINT
    lattice BEFORE the per-document sum (the unigram_nll_scores
    discipline — floor, never round: round-on-a-transcendental
    flipped a boundary row between Spark's own evaluation paths in
    r9), the per-doc sum stays in exact BIGINT quanta, and
    ``avg_nll`` is one IEEE division of exactly-representable values
    at the end — bit-identical under any partitioning and in any
    replaying SQL engine.

    The interpolation is evaluated in one fixed IEEE expression
    (two divisions, two multiplies, one add, one ``ln``), so engines
    agree bit-for-bit up to the ``ln`` ulp absorbed by the
    quantization.
    """
    from ..plans.caches import register_cache

    bs = bigram_stats(df, id_col, text_col)
    # unigram model: counts + vocab size + corpus size (shared V
    # between the two smoothing terms — one vocabulary, two orders).
    # Persisted: vocabulary-proportional (distinct terms, sublinear
    # in the corpus) and consumed twice (totals + the logp join) —
    # without the cache the corpus token explode runs a THIRD time
    # for the 1-row totals (audited r9). Residual recorded in
    # plans/caches.py. The bigram posting table needs no persist:
    # Catalyst reuses its shuffle exchange across its two consumers.
    uni = register_cache(
        term_stats(df, id_col, text_col)
        .groupBy("term")
        .agg(F.sum("tf").alias("cu"))
        .persist(),
        owner="text",
    )
    tot = uni.agg(
        F.sum("cu").alias("n_corpus"), F.count(F.lit(1)).alias("v_size")
    )
    bg = bs.groupBy("v", "w").agg(F.sum("tf").alias("cb"))
    ctx = bg.groupBy("v").agg(F.sum("cb").alias("cv"))
    logp = (
        bg.join(ctx.hint("merge"), "v")
        .join(uni.hint("merge"), bg["w"] == uni["term"])
        .crossJoin(F.broadcast(tot))
        .select(
            "v",
            "w",
            F.floor(
                F.log(
                    F.lit(lam)
                    * ((F.col("cb") + 1) / (F.col("cv") + F.col("v_size")))
                    + F.lit(1.0 - lam)
                    * ((F.col("cu") + 1) / (F.col("n_corpus") + F.col("v_size")))
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("logp_q"),
        )
    )
    return (
        bs.join(logp.hint("merge"), ["v", "w"])
        .groupBy("id", "dl")
        .agg(F.sum(F.col("tf") * F.col("logp_q")).alias("s"))
        .select(
            F.col("id").alias(id_col),
            F.col("dl").alias("n_tokens"),
            (
                (-F.col("s")).cast("double")
                / ((F.col("dl") - 1).cast("double") * F.lit(1e9))
            ).alias("avg_nll"),
        )
    )


def canonicalize_text(text: Column | str) -> Column:
    """Normalization-robust canonical form: lowercase, strip every
    non-alphanumeric non-whitespace character, collapse whitespace
    runs, trim. Exact dedup on the canonical form catches the
    near-exact duplicates raw hashing misses (case flips, punctuation
    and whitespace jitter — the normalize-then-hash step in
    Gopher/FineWeb-style exact dedup). Pure scan-side expressions.
    The whitespace class is the module-level explicit ``WS_CHARS``
    (see its comment: Java vs RE2 disagree on U+000B under ``\\s``;
    r9 review finding, since generalized to the shared tokenizer).
    With the explicit class every engine canonicalizes
    byte-for-byte."""
    c = F.regexp_replace(F.lower(_c(text)), f"[^a-z0-9{WS_CHARS}]", "")
    return F.trim(F.regexp_replace(c, WS, " "))


def canonical_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Duplicate groups under :func:`canonicalize_text`: one row per
    canonical form with the surviving (minimum) id, the variant
    count, and the canonical form's md5 fingerprint (the group key
    downstream joins use — never the text). One projection + one
    partial-aggregated shuffle keyed by the canonical hash; at scale
    the shuffle carries ``(fingerprint, id)`` pairs, not documents."""
    c = canonicalize_text(text_col)
    return (
        df.select(F.col(id_col).alias("id"), F.md5(c).alias("canon_fp"))
        .groupBy("canon_fp")
        .agg(
            F.min("id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


def class_tfidf_keywords(
    df: DataFrame,
    class_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    top_k: int = 5,
) -> DataFrame:
    """Class-based TF-IDF keyword extraction (the c-TF-IDF of
    Grootendorst's BERTopic, 2022): treat each class (domain, source,
    cluster) as ONE concatenated document, weight terms by in-class
    frequency times inverse CLASS frequency, and report each class's
    ``top_k`` terms — the "what is this domain about" report a
    curation pipeline prints next to its mixture stats.

    Returns ``(class, term, rank, score)`` with ``score = ctf *
    (ln((1+C)/(1+cdf)) + 1) / 1e6`` where ``ctf`` is the term's total
    count inside the class, ``C`` the number of classes, and ``cdf``
    the number of classes containing the term. The idf factor is
    floored onto the 1e-6 lattice, so scores are products of exact
    integers and the ranking (ties broken by term) replays in any
    engine.

    Plan: the term-stats posting table reduces to ``(class, term)``
    partial-aggregated counts; class-df reduces from THAT table
    (vocabulary-proportional, never a second corpus pass); the
    1-row class count broadcasts; top-k is one window over the
    class-term table.
    """
    ts = term_stats(df, id_col, text_col)
    cls = df.select(
        F.col(id_col).alias("id"), F.col(class_col).alias("cls")
    )
    ct = (
        ts.join(cls.hint("merge"), "id")
        .groupBy("cls", "term")
        .agg(F.sum("tf").alias("ctf"))
    )
    cdf = ct.groupBy("term").agg(F.count(F.lit(1)).alias("cdf"))
    # count_distinct ignores NULL, matching SQL COUNT(DISTINCT cls) —
    # a NULL class still gets its own keyword group below (GROUP BY
    # keeps NULL in both engines) but must not inflate the idf
    # denominator (r9 review: the distinct().count() form counted it)
    nc = df.agg(
        F.count_distinct(F.col(class_col)).alias("n_classes")
    )
    scored = (
        ct.join(cdf.hint("merge"), "term")
        .crossJoin(F.broadcast(nc))
        .select(
            "cls",
            "term",
            (
                F.col("ctf")
                * F.floor(
                    (
                        F.log(
                            (F.lit(1) + F.col("n_classes"))
                            / (F.lit(1) + F.col("cdf"))
                        )
                        + F.lit(1.0)
                    )
                    * F.lit(1e6)
                ).cast("long")
            ).alias("score_q"),
        )
    )
    w = Window.partitionBy("cls").orderBy(
        F.col("score_q").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("cls").alias(class_col),
            "term",
            "rank",
            (F.col("score_q").cast("double") / F.lit(1e6)).alias("score"),
        )
    )
