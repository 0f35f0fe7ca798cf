"""BPE tokenizer training: hand-computed merge sequences, greedy
rewrite semantics, fertility eval (operators/bpe.py)."""

import pyspark.sql.functions as F
import pytest

from relationalize_spark.operators.bpe import (
    SYM_L,
    SYM_R,
    bpe_train,
    word_vocab,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # The classic Sennrich-style example. Vocab: low:5, lower:2,
    # newest:3, widest:1.
    rows = [
        (1, "low low low low low"),
        (2, "lower lower"),
        (3, "newest newest newest"),
        (4, "widest"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_hand_computed_merge_sequence(spark, corpus):
    # step 1: 'l o' and 'o w' tie at 7 -> lexicographic -> (l, o).
    # step 2: 'lo w' at 7. step 3: 'e s' and 's t' tie at 4 -> (e, s).
    got = bpe_train(corpus, merges=3)
    assert got == [
        (1, "l", "o", "lo", 7),
        (2, "lo", "w", "low", 7),
        (3, "e", "s", "es", 4),
    ]


def test_word_vocab_counts_and_hygiene(spark):
    df = spark.createDataFrame(
        [(1, f"a{SYM_L}b a{SYM_R}b  ab"), (2, "ab   ")],
        "doc_id int, text string",
    )
    got = {r.word: r.freq for r in word_vocab(df).collect()}
    # framing chars stripped -> all four occurrences collapse to 'ab'
    assert got == {"ab": 4}


def test_train_deterministic_under_repartition(spark, corpus):
    a = bpe_train(corpus, merges=4)
    b = bpe_train(corpus.repartition(7), merges=4)
    assert a == b


def test_bpe_eval_hand_computed(spark, corpus):
    from relationalize_spark.operators.bpe import bpe_eval

    # after (l,o), (lo,w), (e,s): low->1 token; lower->3 (low,e,r);
    # newest->5 (n,e,w,es,t); widest->5 (w,i,d,es,t)
    df = spark.createDataFrame(
        [("s1", "low low lower"), ("s2", "newest widest")],
        "source string, text string",
    )
    rules = [(l, r) for _, l, r, _, _ in bpe_train(corpus, merges=3)]
    got = {r.source: r for r in bpe_eval(df, rules).collect()}
    assert got["s1"].n_words == 3 and got["s1"].n_tokens == 1 + 1 + 3
    assert got["s2"].n_words == 2 and got["s2"].n_tokens == 5 + 5
    assert got["s2"].tokens_per_word == 5.0


def test_single_char_vocab_stops_early(spark):
    df = spark.createDataFrame([(1, "a b c a")], "doc_id int, text string")
    assert bpe_train(df, merges=3) == []  # no adjacent pairs anywhere


# --- property: framed replace IS greedy-leftmost pair merging --------
# Python str.replace and Spark/DuckDB replace share leftmost
# non-overlapping replace-all semantics, so the framing argument can
# be proven engine-free: for ANY symbol sequence and merge pair, the
# framed string rewrite equals the scan-based greedy merge. (Engine
# parity itself is pinned by q133's DuckDB oracle + the unit cases.)

from hypothesis import given, settings
from hypothesis import strategies as st

_sym = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters=[SYM_L, SYM_R]
    ),
    min_size=1,
    max_size=3,
)


def _greedy_merge(syms: list[str], x: str, y: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@settings(max_examples=300, deadline=None)
@given(st.lists(_sym, min_size=1, max_size=12), _sym, _sym)
def test_framed_replace_is_greedy_leftmost(syms, x, y):
    framed = "".join(SYM_L + s + SYM_R for s in syms)
    rewritten = framed.replace(
        SYM_L + x + SYM_R + SYM_L + y + SYM_R, SYM_L + x + y + SYM_R
    )
    assert rewritten.startswith(SYM_L) and rewritten.endswith(SYM_R)
    back = rewritten[1:-1].split(SYM_R + SYM_L)
    assert back == _greedy_merge(syms, x, y)
