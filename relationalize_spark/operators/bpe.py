"""Distributed BPE tokenizer training (first-k merges), Spark-first.

Byte-pair-encoding merge learning (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") is the
tokenizer-training step of an LLM data pipeline. This implements the
standard trainer optimization: merges are learned over the DISTINCT
word-frequency vocabulary, not the corpus — one corpus-wide shuffle
builds ``(word, freq)``, and every merge iteration then runs over the
cached vocab (at 100 TB the distinct-word table is orders of
magnitude smaller than the corpus; the corpus is touched exactly
once).

Per merge iteration:

- pair counting is ``explode(adjacent symbol pairs) ->
  groupBy(pair).sum(freq)`` — map-side partial aggregation, shuffle
  keys are pair strings, traffic bounded by distinct-pair count;
- the argmax is a 1-row driver read with a total deterministic order
  (``freq DESC, pair ASC``);
- the vocabulary rewrite is ONE literal ``replace`` per learned
  merge, lazily stacked on the cached vocab (k merges cost
  O(k^2 * |vocab|) replace scans in total — irrelevant next to the
  corpus pass for the k this is meant for; materialize per-iteration
  if you need hundreds of merges).

**Greedy-leftmost by construction.** Each symbol is framed as
``\\x1e sym \\x1f``, so the merge pattern ``\\x1e x \\x1f \\x1e y
\\x1f`` never shares a character with an adjacent match — plain
non-overlapping left-to-right ``replace`` therefore implements
EXACTLY the BPE greedy-leftmost rewrite (``aaaaa`` with merge
``(a,a)`` -> ``aa aa a``; ``abab`` with ``(a,b)`` -> ``ab ab``), and
``replace`` has identical semantics in Spark and every SQL engine —
pinned by the property test in ``tests/test_bpe.py`` and by q133's
DuckDB oracle. An unframed space-separated representation
gets this wrong: the pattern consumes the boundary the next match
needs, silently skipping alternate occurrences.

Everything is integer arithmetic (frequency sums) and string
rewrites — no floats — so the whole training trajectory is
engine-replayable and q133 carries a TRUE chained-CTE value oracle
(the q121/q131 discipline, here without even needing a fixed-point
lattice).

Input hygiene: the two framing control characters are stripped from
words during vocabulary construction (they cannot appear in
well-formed text; a word consisting only of them vanishes). No
end-of-word marker is appended — add one upstream as a literal
token suffix if the downstream tokenizer needs it.

Reference parity: none (capability beyond the reference's surface,
cited as such in SURVEY.md §8.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.scale import ensure_parallelism

#: Per-symbol framing characters (record/unit separators — stripped
#: from input words, so framing is unambiguous).
SYM_L = "\x1e"
SYM_R = "\x1f"
#: Pair-key separator: ``x + PAIR_SEP + y``. Chosen so the framed
#: merge pattern is literally ``SYM_L + pair_key + SYM_R``.
PAIR_SEP = SYM_R + SYM_L


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency vocabulary: ``word, freq`` (one shuffle,
    map-side combined). Framing control chars are stripped; empty
    words dropped."""
    return (
        df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("__w__"))
        .select(F.translate(F.col("__w__"), SYM_L + SYM_R, "").alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _symbolize(word: Column) -> Column:
    """``'abc' -> '\\x1ea\\x1f\\x1eb\\x1f\\x1ec\\x1f'``."""
    return F.array_join(
        F.transform(F.split(word, ""), lambda c: F.concat(F.lit(SYM_L), c, F.lit(SYM_R))),
        "",
    )


def _pairs(sym: Column) -> Column:
    """Adjacent symbol pairs of a framed string, as
    ``x + PAIR_SEP + y`` keys (shifted-slice zip_with — no
    per-element capture of the split, the spans/_gram_keys rule)."""
    syms = F.split(sym.substr(F.lit(2), F.length(sym) - 2), PAIR_SEP)
    n_pos = F.greatest(F.size(syms) - 1, F.lit(0))
    return F.zip_with(
        F.slice(syms, 1, n_pos),
        F.slice(syms, 2, n_pos),
        lambda a, b: F.concat(a, F.lit(PAIR_SEP), b),
    )


def bpe_train(
    df: DataFrame, text_col: str = "text", *, merges: int = 5
) -> list[tuple[int, str, str, str, int]]:
    """Learn the first ``merges`` BPE merges over the corpus; returns
    ``[(step, left, right, merged, pair_freq), ...]`` in merge order.
    Ties break deterministically: highest summed frequency, then
    lexicographically smallest pair key. Stops early if no pair
    remains (degenerate single-char vocab)."""
    vocab = ensure_parallelism(
        word_vocab(df, text_col).select(
            _symbolize(F.col("word")).alias("sym"), "freq"
        )
    ).persist()
    out: list[tuple[int, str, str, str, int]] = []
    try:
        cur: Column = F.col("sym")
        for step in range(1, merges + 1):
            best = (
                vocab.select(F.explode(_pairs(cur)).alias("p"), "freq")
                .groupBy("p")
                .agg(F.sum("freq").alias("f"))
                .orderBy(F.desc("f"), F.asc("p"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            pair, freq = best[0].p, int(best[0].f)
            x, y = pair.split(PAIR_SEP)
            out.append((step, x, y, x + y, freq))
            cur = F.replace(
                cur,
                F.lit(SYM_L + x + SYM_R + SYM_L + y + SYM_R),
                F.lit(SYM_L + x + y + SYM_R),
            )
    finally:
        vocab.unpersist()
    return out


def bpe_train_df(
    df: DataFrame, text_col: str = "text", *, merges: int = 5
) -> DataFrame:
    """:func:`bpe_train` as the ``(step, merge_left, merge_right,
    merged, pair_freq)`` DataFrame q133's oracle replays
    value-for-value (``merge_*`` rather than ``left``/``right`` —
    SQL keywords make fragile oracle column names)."""
    spark = df.sparkSession
    rows = bpe_train(df, text_col, merges=merges)
    return spark.createDataFrame(
        rows,
        "step int, merge_left string, merge_right string,"
        " merged string, pair_freq bigint",
    )


def bpe_eval(
    df: DataFrame,
    merge_rules: list[tuple[str, str]],
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Tokenizer fertility per group under learned merges:
    ``group_col, n_words, n_tokens, tokens_per_word``.

    One shuffle (the per-(group, word) count); the per-word subword
    count is a pure projection over that bounded table — the k
    replaces and the split are applied to each DISTINCT (group, word)
    once, never to the corpus. Integer sums + one exact IEEE division
    keep the result engine-replayable (q134)."""
    words = (
        df.select(
            F.col(group_col).alias("__g__"),
            F.explode(F.split(F.col(text_col), r"\s+")).alias("__w__"),
        )
        .select(
            "__g__", F.translate(F.col("__w__"), SYM_L + SYM_R, "").alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("__g__", "word")
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    sym = _symbolize(F.col("word"))
    for x, y in merge_rules:
        sym = F.replace(
            sym,
            F.lit(SYM_L + x + SYM_R + SYM_L + y + SYM_R),
            F.lit(SYM_L + x + y + SYM_R),
        )
    n_tok = F.size(F.split(sym.substr(F.lit(2), F.length(sym) - 2), PAIR_SEP))
    return (
        words.withColumn("__t__", n_tok.cast("long"))
        .groupBy("__g__")
        .agg(
            F.sum("__c__").alias("n_words"),
            F.sum(F.col("__c__") * F.col("__t__")).alias("n_tokens"),
        )
        .select(
            F.col("__g__").alias(group_col),
            "n_words",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("n_words").cast("double")).alias(
                "tokens_per_word"
            ),
        )
    )

