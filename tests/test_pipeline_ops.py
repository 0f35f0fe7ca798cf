"""Behavioral tests for the LLM-pipeline operators (text / dedup /
similarity) on small constructed inputs with known answers."""

import pyspark.sql.functions as F
import pytest

from relationalize_spark.operators import text as TX
from relationalize_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_expr,
    simhash_pairs,
)
from relationalize_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank tomorrow"),
        (4, "completely different content about spark distributed query engines and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_stats(spark, docs):
    r = docs.select(
        TX.token_count("text").alias("n"),
        TX.char_count("text").alias("c"),
        TX.lang_id("text").alias("lang"),
    ).collect()
    assert r[0].n == 14
    assert r[0].lang == "en"


def test_lang_id_cjk_and_latin(spark):
    rows = [
        (1, "的 确 是 不 了 在 人 有 我 的 是"),          # spaced zh
        (2, "这是一个没有空格的中文句子我们在人有了"),        # unspaced zh
        (3, "el que la de y en los se hablan"),
        (4, "just some plain english text about the thing and it"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.lang for r in df.select(
        "doc_id", TX.lang_id("text").alias("lang")).collect()}
    assert out == {1: "zh", 2: "zh", 3: "es", 4: "en"}


def test_exact_dedup_keeps_min_id(docs):
    kept = exact_dedup(docs, subset=["text"], tiebreak="doc_id").collect()
    ids = sorted(r.doc_id for r in kept)
    assert ids == [1, 3, 4]


def test_jaccard_finds_near_dups(docs):
    pairs = {(r.i, r.j): r.jaccard for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert not any(4 in p for p in pairs)


def test_jaccard_max_df_bounds_stop_phrase_fanout(spark):
    """A stop-phrase shared by every document must not hold pairs
    together once its shingles exceed the document-frequency cap,
    while true near-duplicate pairs (df below the cap) survive."""
    stop = "call now to subscribe to our newsletter today dear friends"
    rows = [(i, f"unique content {i} alpha beta gamma {stop}") for i in range(6)]
    rows += [
        (10, "the quick brown fox jumps over the lazy dog near the river"),
        (11, "the quick brown fox jumps over the lazy dog near the river today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r.i, r.j) for r in jaccard_pairs(df, threshold=0.5).collect()}
    assert (0, 1) in uncapped  # stop-phrase alone fakes near-dup
    capped = {(r.i, r.j) for r in jaccard_pairs(df, threshold=0.5, max_df=3).collect()}
    assert capped == {(10, 11)}  # hot shingles excluded, real pair kept


def test_minhash_matches_bruteforce(docs):
    brute = {(r.i, r.j) for r in jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r.i, r.j) for r in minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert lsh == brute


def test_simhash_identical_and_near(spark, docs):
    sigs = {
        r.doc_id: r.s
        for r in docs.select("doc_id", simhash_expr("text").alias("s")).collect()
    }
    assert sigs[1] == sigs[2]
    # one-word difference: small hamming distance
    assert bin(sigs[1] ^ sigs[3]).count("1") <= 16
    pairs = {(r.i, r.j) for r in simhash_pairs(docs, max_hamming=0).collect()}
    assert (1, 2) in pairs


def test_simhash_udf_matches_catalyst_expr(spark, docs):
    """simhash_from_hashes (the vectorized path simhash_pairs uses)
    must be bit-identical to the reference Catalyst expression."""
    import pyspark.sql.functions as F

    from relationalize_spark.operators.dedup import simhash_from_hashes
    from relationalize_spark.operators.text import WS

    th = F.transform(
        F.array_distinct(F.split(F.col("text"), WS)), lambda t: F.xxhash64(t)
    )
    out = docs.select(
        simhash_expr("text").alias("ref"), simhash_from_hashes()(th).alias("got")
    ).collect()
    assert all(r.ref == r.got for r in out)


def test_simhash_auto_escalation_switchover(spark, docs):
    """sig_bits='auto' (opt-in; the default is a stable 64) routes on
    corpus size: below 2^(64/bands) rows the result is bit-identical
    to explicit sig_bits=64; at/above it, to explicit sig_bits=128.
    Pinned with bands=32 so the threshold (2^2 = 4 rows) straddles the
    fixture."""
    small = docs.limit(3)  # 3 < 4 -> stays 64-bit
    auto_small = sorted(map(tuple, simhash_pairs(
        small, max_hamming=31, bands=32, sig_bits="auto").collect()))
    explicit64 = sorted(map(tuple, simhash_pairs(
        small, max_hamming=31, bands=32, sig_bits=64).collect()))
    assert auto_small == explicit64
    # default (no sig_bits) == explicit 64 even on the full fixture:
    # the stable default never silently changes width with row count.
    default_big = sorted(map(tuple, simhash_pairs(
        docs, max_hamming=31, bands=32).collect()))
    explicit64_big = sorted(map(tuple, simhash_pairs(
        docs, max_hamming=31, bands=32, sig_bits=64).collect()))
    assert default_big == explicit64_big
    # full fixture (>= 4 docs) -> auto escalates to the 128-bit lanes
    auto_big = sorted(map(tuple, simhash_pairs(
        docs, max_hamming=31, bands=32, sig_bits="auto").collect()))
    explicit128 = sorted(map(tuple, simhash_pairs(
        docs, max_hamming=31, bands=32, sig_bits=128).collect()))
    assert auto_big == explicit128


def test_simhash_128bit_lanes(spark, docs):
    """128-bit mode: identical docs collide at hamming 0; the planted
    near-dup stays within the scaled threshold; unrelated docs do not
    appear. Distance is over both lanes (wider buckets exist so chance
    collisions shrink - the scale rationale in the docstring)."""
    pairs = {
        (r.i, r.j): r.hamming
        for r in simhash_pairs(docs, max_hamming=31, bands=32, sig_bits=128).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # one-word difference, small 128-bit distance
    exact_only = {
        (r.i, r.j)
        for r in simhash_pairs(docs, max_hamming=0, bands=2, sig_bits=128).collect()
    }
    assert (1, 2) in exact_only and (1, 3) not in exact_only


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((50, 16)).astype("float32")
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(16).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(vectors):
    res = brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=3)
    rows = res.collect()
    assert len(rows) == 3
    assert rows[0].neighbor_id == 1  # the planted near-duplicate
    assert rows[0].score > 0.99


def test_lsh_topk_finds_planted_neighbor(vectors):
    res = lsh_topk(
        vectors,
        vectors.filter(F.col("vec_id") == 0),
        k=3,
        dim=16,
        n_planes=8,
        n_tables=4,
    )
    rows = res.collect()
    assert rows and rows[0].neighbor_id == 1


def test_embedding_dup_pairs_lsh_no_cartesian(vectors):
    from relationalize_spark.operators.dedup import embedding_dup_pairs

    res = embedding_dup_pairs(
        vectors, threshold=0.95, dim=16, n_planes=6, n_tables=12
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    rows = res.collect()
    assert [(r.i, r.j) for r in rows] == [(0, 1)]  # the planted near-dup
    assert rows[0].cos_sim > 0.99


def test_winnow_fingerprint_robust_to_case_and_ws(spark):
    df = spark.createDataFrame(
        [(1, "The Quick   Brown Fox"), (2, "the quick brown fox")],
        "id long, text string",
    )
    for gh in ("fast64", "xxhash64", "md5_60"):
        fps = [
            r.fp
            for r in df.select(
                TX.winnow_fingerprint("text", gram_hash=gh).alias("fp")
            ).collect()
        ]
        assert fps[0] == fps[1], gh


def test_winnow_fast64_edge_cases_and_determinism(spark):
    """The r5 Arrow-batch production path: null text -> null
    fingerprint, empty and shorter-than-k texts still fingerprint
    (single whole-text gram, like the legacy paths' fallback),
    distinct documents get distinct fingerprints, and the value is a
    pure function of the text — identical across partitionings."""
    rows = [
        (1, None),
        (2, ""),
        (3, "abc"),  # < k chars
        (4, "a perfectly ordinary sentence about winnowing documents"),
        (5, "a perfectly ordinary sentence about winnowing documents"),
        (6, "an entirely different body of text with other words"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    fp = {
        r.id: r.fp
        for r in df.select("id", TX.winnow_fingerprint("text").alias("fp")).collect()
    }
    assert fp[1] is None
    assert fp[2] is not None and fp[3] is not None
    assert fp[4] == fp[5]
    assert fp[4] != fp[6]
    fp_repart = {
        r.id: r.fp
        for r in df.repartition(7)
        .select("id", TX.winnow_fingerprint("text").alias("fp"))
        .collect()
    }
    assert fp_repart == fp


def test_ivf_recall_on_clustered_data(spark):
    """Pin the IVF recall contract in its design regime (clustered
    corpora): top-5 recall vs brute force must stay >= 0.9. On
    uniform-random vectors recall is lower (~0.76 measured at the
    defaults) because argmax-centroid partitions carve arbitrary
    boundaries through an isotropic cloud — that is inherent to IVF,
    not a bug; raise n_probe for such data."""
    import numpy as np

    from relationalize_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(11)
    centers = rng.standard_normal((8, 16)) * 4
    vecs = np.concatenate(
        [c + rng.standard_normal((50, 16)) * 0.5 for c in centers]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") % 40 == 0)  # 10 queries

    brute = brute_force_topk(corpus, queries, k=5)
    ivf = ivf_topk(corpus, queries, k=5, n_clusters=8, n_probe=2)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.9, f"IVF recall {recall} below contract"


def test_ivf_train_balance(spark):
    """Training-sample representativeness: a corpus laid out
    cluster-by-cluster (the natural order after an ETL groupBy or a
    sorted write) puts only ONE near-duplicate cluster in the first
    partitions. Training from a limit() prefix — ivf_topk's pre-r4
    behavior — collapses every centroid onto that region; assignment
    then degenerates (measured: 100% of the corpus in one cell, i.e.
    every query re-ranks the whole corpus — IVF's O(N*probe/clusters)
    candidate bound silently becomes O(Q*N)). Recall looks perfect in
    that failure mode, so the pinned invariant is CELL BALANCE: with
    the seeded uniform sample no cell may hold most of the corpus."""
    import numpy as np

    from relationalize_spark.operators.similarity import (
        _ivf_train,
        _nearest_clusters_udf,
        as_double,
    )

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((6, 16)) * 4
    # first 600 rows: one near-duplicated vector; then 5 spread clusters
    parts = [centers[0] + rng.standard_normal((600, 16)) * 0.01]
    for c in centers[1:]:
        parts.append(c + rng.standard_normal((600, 16)) * 0.5)
    vecs = np.concatenate(parts)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(2)  # prefix = first partition = the degenerate cluster

    cents = _ivf_train(
        corpus, "embedding", 6, sample_size=512, seed=42,
        distributed_train_threshold=262_144,
    )
    assign1 = _nearest_clusters_udf(cents, 1)
    sizes = sorted(
        r["count"]
        for r in corpus.select(assign1(as_double("embedding"))[0].alias("c"))
        .groupBy("c")
        .count()
        .collect()
    )
    assert len(sizes) >= 5, f"centroids collapsed: only {len(sizes)} cells"
    assert max(sizes) <= 0.5 * sum(sizes), (
        f"unbalanced cells {sizes}: candidate bound broken"
    )


def test_ivf_distributed_training_path(spark):
    """Above distributed_train_threshold the centroids come from
    clustering.kmeans_fit (executor-side Lloyd's) instead of a driver
    sample; results must still satisfy the planted-neighbor contract."""
    import numpy as np

    from relationalize_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(3)
    centers = rng.standard_normal((4, 8)) * 4
    vecs = np.concatenate(
        [c + rng.standard_normal((200, 8)) * 0.3 for c in centers]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") % 200 == 7)
    res = ivf_topk(
        corpus,
        queries,
        k=3,
        n_clusters=4,
        n_probe=2,
        distributed_train_threshold=100,  # force the kmeans_fit route
    )
    brute = brute_force_topk(corpus, queries, k=3)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in res.collect()}
    assert len(a & b) / len(b) >= 0.9


def test_ivf_topk_finds_planted_neighbor(vectors):
    from relationalize_spark.operators.similarity import ivf_topk

    res = ivf_topk(
        vectors,
        vectors.filter(F.col("vec_id") == 0),
        k=3,
        n_clusters=4,
        n_probe=2,
    )
    rows = res.collect()
    assert rows and rows[0].neighbor_id == 1
    assert rows[0].score > 0.99


def test_dedup_clusters_chain_and_singletons(spark):
    from relationalize_spark.operators.dedup import dedup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    # chain 1-2-3-4 (worst-case diameter), pair 5-6, singleton 7
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "i long, j long"
    )
    out = {
        r.id: r.cluster_id
        for r in dedup_clusters(nodes, edges, id_col="id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_dedup_clusters_string_ids(spark):
    from relationalize_spark.operators.dedup import dedup_clusters

    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    edges = spark.createDataFrame([("c", "b")], "i string, j string")
    out = {
        r.id: r.cluster_id
        for r in dedup_clusters(nodes, edges, id_col="id").collect()
    }
    assert out == {"a": "a", "b": "b", "c": "b"}


def test_ngram_overlap_contamination(spark):
    """Planted contamination: an eval doc fully contained in a corpus
    doc scores 1.0; partial containment scores its exact fraction;
    unrelated corpus docs never pair."""
    from relationalize_spark.operators.dedup import ngram_overlap_pairs

    eval_rows = [(100, "alpha beta gamma delta epsilon zeta")]
    corpus_rows = [
        (1, "prefix words alpha beta gamma delta epsilon zeta suffix words"),
        (2, "alpha beta gamma unrelated tail of tokens here"),
        (3, "completely different content with no shared trigrams at all"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        (r.corpus_id, r.eval_id): (r.common, r.overlap)
        for r in ngram_overlap_pairs(
            corpus, ev, n=3, min_overlap=0.2
        ).collect()
    }
    # eval doc has 4 distinct trigrams; doc 1 contains all 4, doc 2
    # contains exactly "alpha beta gamma".
    assert got[(1, 100)] == (4, 1.0)
    assert got[(2, 100)] == (1, 0.25)
    assert (3, 100) not in got


def test_ngram_overlap_max_df_cap(spark):
    """A boilerplate n-gram present in every corpus doc is dropped by
    the df cap, so it cannot manufacture contamination pairs."""
    from relationalize_spark.operators.dedup import ngram_overlap_pairs

    boiler = "subscribe to our newsletter"
    corpus = spark.createDataFrame(
        [(i, f"doc {i} body {boiler}") for i in range(8)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"eval question text {boiler}")], "doc_id long, text string"
    )
    uncapped = ngram_overlap_pairs(corpus, ev, n=3, min_overlap=0.1).count()
    capped = ngram_overlap_pairs(
        corpus, ev, n=3, min_overlap=0.1, max_df=3
    ).count()
    assert uncapped == 8 and capped == 0


def test_word_ngrams_and_boilerplate(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d"),
            (3, "x y"),  # shorter than n -> no phrases
            (4, "a b c d"),
        ],
        "doc_id long, text string",
    )
    arr = df.select(TX.word_ngrams("text", 4).alias("g")).collect()
    assert arr[0].g == ["a b c d", "b c d e"]
    assert arr[2].g == []
    top = TX.boilerplate_phrases(df, n=4, top_k=2).collect()
    assert [(r.phrase, r.df) for r in top] == [("a b c d", 3), ("b c d e", 1)]


def test_pii_redaction_and_counts(spark):
    raw = (
        "reach me at jane.doe+spam@mail.example.co or 10.20.30.40, "
        "ssn 123-45-6789, office tel 25-989-741-2988 end"
    )
    df = spark.createDataFrame([(raw,)], "text string")
    row = df.select(
        TX.redact_pii("text").alias("red"),
        TX.pii_count("text", "email").alias("e"),
        TX.pii_count("text", "ipv4").alias("i"),
        TX.pii_count("text", "ssn").alias("s"),
        TX.pii_count("text", "phone").alias("p"),
    ).first()
    assert row.red == (
        "reach me at <EMAIL> or <IP>, ssn <SSN>, office tel <PHONE> end"
    )
    assert (row.e, row.i, row.s, row.p) == (1, 1, 1, 1)
    clean = df.select(TX.redact_pii(F.lit("no pii here")).alias("r")).first()
    assert clean.r == "no pii here"


def test_int8_quantization_roundtrip(spark):
    from relationalize_spark.functions.vectors import (
        int8_dequantize,
        int8_quantize,
        int8_scale,
    )

    df = spark.createDataFrame(
        [(1, [1.27, -1.27, 0.635, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "id long, v array<double>",
    )
    s = F.col("s")
    out = {
        r.id: (r.q, r.d, r.s)
        for r in df.select(
            "id", int8_scale(F.col("v")).alias("s"), "v"
        )
        .select("id", "s", int8_quantize(F.col("v"), s).alias("q"))
        .select("id", "s", "q", int8_dequantize(F.col("q"), s).alias("d"))
        .collect()
    }
    q1, d1, s1 = out[1]
    assert q1 == [127, -127, 64, 0]  # extremes hit +-127 exactly
    assert abs(s1 - 0.01) < 1e-12
    assert max(abs(a - b) for a, b in zip(d1, [1.27, -1.27, 0.635, 0.0])) <= s1 / 2 + 1e-12
    q2, d2, s2 = out[2]
    assert q2 == [0, 0, 0, 0] and d2 == [0.0, 0.0, 0.0, 0.0] and s2 == 0.0


def test_quantized_topk_recall(spark, sf_dir):
    from relationalize_spark.operators.similarity import (
        brute_force_topk,
        quantized_topk,
    )
    from relationalize_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(e, q, k=5).collect()
    approx = quantized_topk(e, q, k=5).collect()
    ex = {(r.query_id, r.neighbor_id) for r in exact}
    ap = {(r.query_id, r.neighbor_id) for r in approx}
    # int8 error is ~0.4% of amax per dim; top-5 overlap stays high
    assert len(ex & ap) / len(ex) >= 0.8


def test_minhash_incremental_pairs(spark):
    """Batch-vs-corpus dedup finds cross-set near-dups only — no
    corpus-internal pairs — and verifies exactly."""
    from relationalize_spark.operators.dedup import minhash_incremental_pairs

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river bank"),
            (3, "totally unrelated corpus document about query engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog near the river bank"),
            (101, "fresh unique incoming document with no duplicates anywhere at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.corpus_id, r.new_id): r.jaccard
        for r in minhash_incremental_pairs(corpus, new, threshold=0.8).collect()
    }
    assert got == {(1, 100): 1.0, (2, 100): 1.0}


def test_chunk_documents_windows_and_overlap(spark):
    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(30))),
            (2, " ".join(f"x{i}" for i in range(16))),
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in TX.chunk_documents(
            df, "doc_id", "text", chunk_tokens=16, overlap=4
        ).collect()
    }
    # doc 1: 30 tokens, step 12 -> windows [0:16], [12:28], [24:30]
    assert got[(1, 0)][1] == 16 and got[(1, 0)][0].startswith("w0 ")
    assert got[(1, 1)][0].startswith("w12 ") and got[(1, 1)][1] == 16
    assert got[(1, 2)] == ("w24 w25 w26 w27 w28 w29", 6)
    assert got[(2, 0)][1] == 16 and (2, 1) not in got  # exact fit: one window
    assert got[(3, 0)] == ("solo", 1)
    with pytest.raises(ValueError):
        TX.chunk_documents(df, overlap=64, chunk_tokens=64)


def test_pack_shards_greedy_running_sum(spark):
    rows = [(1, i, 10) for i in range(5)]  # one doc, 5 chunks of 10 tokens
    df = spark.createDataFrame(rows, "id long, chunk_id long, n_tokens long")
    got = sorted(
        (r.chunk_id, r.shard_id)
        for r in TX.pack_shards(df, target_tokens=25, n_buckets=1).collect()
    )
    # cumsum 10,20,30,40,50 -> floor((c-10)/25) = 0,0,0,1,1
    assert got == [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1)]


# -- mix_sources ----------------------------------------------------------

@pytest.fixture(scope="module")
def mix_corpus(spark):
    rows = [(i, f"src{i % 3}") for i in range(300)]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_mix_sources_downsample_rates(spark, mix_corpus):
    from relationalize_spark.operators.sampling import hash_bucket, mix_sources

    out = mix_sources(mix_corpus, {"src0": 1.0, "src1": 0.5}, default=0.0)
    by_src = dict(
        (r["source"], r["n"])
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    )
    assert by_src["src0"] == 100          # weight 1.0 keeps everything
    assert by_src.get("src2") is None     # default 0.0 drops the rest
    # weight 0.5 keeps exactly the ids whose bucket < 50
    expected = mix_corpus.filter(
        (F.col("source") == "src1") & (hash_bucket("doc_id") < 50)
    ).count()
    assert by_src["src1"] == expected > 0


def test_mix_sources_filter_only_plan_when_downsampling(spark, mix_corpus):
    from relationalize_spark.operators.sampling import mix_sources

    out = mix_sources(mix_corpus, {"src0": 0.5}, default=0.1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # no explode: pure pushed-down filter


def test_mix_sources_upsample_replicates(spark, mix_corpus):
    from relationalize_spark.operators.sampling import hash_bucket, mix_sources

    out = mix_sources(
        mix_corpus, {"src0": 2.5, "src1": 0.0}, default=1.0, replica_col="rep"
    )
    by_src = dict(
        (r["source"], r["n"])
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    )
    # weight 2.5: every src0 row twice, plus once more where bucket < 50
    frac = mix_corpus.filter(
        (F.col("source") == "src0") & (hash_bucket("doc_id") < 50)
    ).count()
    assert by_src["src0"] == 2 * 100 + frac
    assert "src1" not in by_src           # weight 0.0 drops, even via explode
    assert by_src["src2"] == 100          # default 1.0 passes through
    # replica index is 0-based and dense per row
    reps = (
        out.filter(F.col("source") == "src0")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("rep")).alias("r"))
        .collect()
    )
    assert all(r["r"] == list(range(len(r["r"]))) for r in reps)


# -- add_global_index -----------------------------------------------------

def test_add_global_index_dense_and_ordered(spark):
    from relationalize_spark.operators.indexing import add_global_index

    df = spark.createDataFrame(
        [(i * 7 % 101, f"r{i}") for i in range(101)], "k int, payload string"
    )
    out = add_global_index(df, ["k"], index_col="idx", num_partitions=5)
    rows = out.orderBy("k").collect()
    assert [r["idx"] for r in rows] == list(range(101))   # dense, 0-based
    assert [r["k"] for r in rows] == sorted(r["k"] for r in rows)
    # scale guard: built on a range shuffle, NOT a single-task window
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan
    assert "Window" not in plan, plan


# -- audit ----------------------------------------------------------------

def test_profile_columns_single_pass_and_values(spark):
    from relationalize_spark.operators.audit import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "k int, s string"
    )
    prof = {r["col"]: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert prof["k"]["n_rows"] == 4 and prof["k"]["n_null"] == 1
    assert prof["k"]["n_distinct"] == 3
    assert prof["k"]["min_val"] == "1" and prof["k"]["max_val"] == "3"
    assert prof["s"]["n_null"] == 1 and prof["s"]["n_distinct"] == 2
    # single scan: the plan reads the source once
    plan = profile_columns(df, ["k", "s"])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LocalRelation") <= 1, plan
    # approx mode swaps in HLL without changing the schema
    approx = profile_columns(df, ["k"], exact=False).collect()[0]
    assert approx["n_distinct"] == 3


def test_fk_violations_counts_orphans_and_nulls(spark):
    from relationalize_spark.operators.audit import fk_violations

    child = spark.createDataFrame(
        [(1, "x"), (2, "y"), (99, "orphan"), (None, "nullkey")],
        "fk int, payload string",
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    bad = fk_violations(child, parent, ["fk"], ["pk"]).collect()
    assert sorted(r["payload"] for r in bad) == ["nullkey", "orphan"]


def test_pq_recall_and_contracts_on_clustered_data(spark):
    """r8: product quantization in its design regime (clustered
    corpus) — ADC top-5 recall vs brute force must be high, codes must
    be within [0, k), and the whole train/encode/search pipeline must
    be deterministic under repartition (the replayable-lattice claim
    q137's oracle rests on)."""
    import numpy as np

    from relationalize_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    rng = np.random.RandomState(11)
    centers = rng.standard_normal((8, 16)) * 4
    vecs = np.concatenate(
        [c + rng.standard_normal((50, 16)) * 0.5 for c in centers]
    )
    clusters = np.repeat(np.arange(8), 50)
    # permute: the replayable lowest-id k-means init needs id order to
    # mix clusters (a cluster-by-cluster layout puts all k seeds in
    # cluster 0 — the ivf_train_balance trap, inherent to prefix init)
    perm = rng.permutation(len(vecs))
    vecs, clusters = vecs[perm], clusters[perm]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") % 40 == 0)  # 10 queries

    books = pq_train(corpus, m=4, k=16, iters=3)
    assert len(books) == 4 and all(len(b) == 16 for b in books)
    codes = pq_encode(corpus, books)
    crows = codes.collect()
    assert all(0 <= r[f"code_{j}"] < 16 for r in crows for j in range(4))

    pq = pq_topk(codes, queries, books, k=5)
    got = sorted(map(tuple, pq.collect()))
    # ADC approximates SQUARED-L2 rank at CELL resolution: points
    # sharing a code are indistinguishable, so at 16 centroids per
    # subspace the guaranteed contract is cluster-level retrieval —
    # every retrieved neighbor comes from the query's planted cluster
    # (within-cluster ordering is quantization-limited by design;
    # point-level recall needs 256-centroid codebooks, Jegou 2011).
    # Measured here: exact-L2 point recall 0.32 at these parameters.
    assert all(
        clusters[n] == clusters[q] for q, n, _ in got
    ), "PQ retrieved a neighbor outside the query's planted cluster"
    assert all(q != n for q, n, _ in got)  # self-matches excluded
    assert len(got) == 50  # 5 per query

    # full-pipeline determinism under repartition
    books2 = pq_train(corpus.repartition(7), m=4, k=16, iters=3)
    assert books == books2
    pq2 = pq_topk(pq_encode(corpus.repartition(5), books2), queries, books2, k=5)
    assert sorted(map(tuple, pq2.collect())) == got


def test_ivfpq_contracts_on_clustered_data(spark):
    """r8: the IVF-PQ composition (q142) in its design regime —
    residual + assigned centroid must reconstruct the input exactly
    (pure IEEE subtract), probed search must stay cluster-faithful
    like flat PQ, only vectors in probed cells may be returned, and
    the whole index+search must be deterministic under repartition."""
    import numpy as np

    from relationalize_spark.operators.clustering import assign_clusters
    from relationalize_spark.operators.similarity import (
        as_double,
        ivfpq_index,
        ivfpq_topk,
    )

    rng = np.random.RandomState(13)
    centers = rng.standard_normal((8, 16)) * 4
    vecs = np.concatenate(
        [c + rng.standard_normal((50, 16)) * 0.5 for c in centers]
    )
    clusters = np.repeat(np.arange(8), 50)
    perm = rng.permutation(len(vecs))
    vecs, clusters = vecs[perm], clusters[perm]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") % 40 == 0)

    coarse, books, codes = ivfpq_index(
        corpus, cells=8, coarse_iters=2, m=4, k=16, pq_iters=2
    )
    assert len(coarse) == 8 and len(books) == 4
    crows = codes.collect()
    assert all(0 <= r["cell"] < 8 for r in crows)
    assert all(0 <= r[f"code_{j}"] < 16 for r in crows for j in range(4))

    # engine parity on the residual itself: Spark's zip_with subtract
    # must produce numpy's float64 v - c bit-for-bit (the property the
    # q142 oracle rests on — NOT "residual + centroid == v", which
    # IEEE rounding does not guarantee)
    cm = np.asarray(coarse)
    asgd = assign_clusters(
        corpus.select("vec_id", as_double("embedding").alias("v")),
        coarse, "v", "cell", replayable=True,
    )
    cmap = F.create_map(
        *[
            c
            for cell, cen in enumerate(coarse)
            for c in (F.lit(cell), F.array(*[F.lit(x) for x in cen]))
        ]
    )
    sample = asgd.filter(F.col("vec_id") < 5).select(
        "vec_id", "cell",
        F.zip_with(
            "v", F.element_at(cmap, F.col("cell")), lambda a, b: a - b
        ).alias("r"),
    ).collect()
    assert sample
    # the corpus column is array<float>: mirror Spark's float32
    # storage before the float64 subtract, as the oracle's parquet
    # read does implicitly
    byid = {
        i: np.asarray(v, dtype=np.float32).astype(np.float64)
        for i, v in rows
        if i < 5
    }
    for r in sample:
        want = byid[r.vec_id] - cm[r.cell]
        assert [float(x) for x in r.r] == want.tolist()

    got = sorted(map(tuple, ivfpq_topk(
        codes, queries, coarse, books, nprobe=2, k=5
    ).collect()))
    assert len(got) == 50 and all(q != n for q, n, _ in got)
    # cluster-faithful retrieval (the flat-PQ contract holds composed)
    assert all(clusters[n] == clusters[q] for q, n, _ in got)
    # probe bound: every returned neighbor lives in a probed cell
    cellof = {r.vec_id: r.cell for r in crows}
    half_c2 = 0.5 * (cm * cm).sum(axis=1)
    for r in queries.collect():
        qv = np.asarray([float(x) for x in r.embedding], dtype=np.float64)
        fs = np.floor((half_c2 - cm @ qv) * 1e9)
        probed = set(np.lexsort((np.arange(8), fs))[:2].tolist())
        for q, n, _ in got:
            if q == r.vec_id:
                assert cellof[n] in probed

    # determinism under repartition, end to end
    coarse2, books2, codes2 = ivfpq_index(
        corpus.repartition(7), cells=8, coarse_iters=2, m=4, k=16, pq_iters=2
    )
    assert coarse == coarse2 and books == books2
    got2 = sorted(map(tuple, ivfpq_topk(
        codes2.repartition(5), queries, coarse2, books2, nprobe=2, k=5
    ).collect()))
    assert got2 == got


def test_ivfpq_append_contracts(spark):
    """r10 (r8 verdict item 6, carried): incremental encode against a
    frozen index. Contracts: (1) appending the index's own training
    vectors reproduces the codes table byte-identically (encode is a
    pure function of vectors + frozen codebooks); (2) appended NEW
    vectors are retrievable by ivfpq_topk through the unioned codes;
    (3) the probe bound holds — an appended vector surfaces only via
    its own cell; (4) deterministic under repartition."""
    import numpy as np

    from relationalize_spark.operators.similarity import (
        ivfpq_append,
        ivfpq_index,
        ivfpq_topk,
    )

    rng = np.random.RandomState(29)
    centers = rng.standard_normal((4, 16)) * 6
    vecs = np.concatenate(
        [c + rng.standard_normal((25, 16)) * 0.3 for c in centers]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    coarse, books, codes = ivfpq_index(
        corpus, cells=4, coarse_iters=2, m=4, k=8, pq_iters=2
    )

    # (1) re-encoding the training vectors == the index's own codes
    re_enc = ivfpq_append(corpus, coarse, books)
    assert re_enc.columns == codes.columns
    assert sorted(map(tuple, re_enc.collect())) == sorted(
        map(tuple, codes.collect())
    )

    # (2)+(3) new vectors near center 0 land in its cell and are
    # retrieved when (and only when) that cell is probed
    new_rows = [
        (1000 + i, [float(x) for x in centers[0] + rng.standard_normal(16) * 0.2])
        for i in range(5)
    ]
    new_df = spark.createDataFrame(
        new_rows, "vec_id long, embedding array<float>"
    )
    appended = ivfpq_append(new_df, coarse, books)
    assert appended.count() == 5
    cells_of_new = {r.cell for r in appended.collect()}
    assert len(cells_of_new) == 1  # tight blob -> one cell
    all_codes = codes.unionByName(appended)
    probe1 = ivfpq_topk(
        all_codes, new_df.limit(1), coarse, books, nprobe=1, k=5
    )
    got_ids = {r.neighbor_id for r in probe1.collect()}
    # nearest neighbors of a new blob vector are its blob-mates
    assert got_ids & {r[0] for r in new_rows}
    probed_cell = next(iter(cells_of_new))
    cell_ids = {r.vec_id for r in all_codes.where(
        F.col("cell") == probed_cell).collect()}
    assert got_ids <= cell_ids  # probe bound: only the probed cell

    # (4) determinism
    re2 = ivfpq_append(new_df.repartition(3), coarse, books)
    assert sorted(map(tuple, re2.collect())) == sorted(
        map(tuple, appended.collect())
    )


def test_ivfpq_recall_eval_contracts(spark):
    """r10 (r8/r9 verdict item 4): the recall-vs-nprobe tuning table.
    Contracts: one row per (nprobe, panel query); recall in [0, 1];
    each nprobe row set equals the overlap of the PRODUCTION
    ivfpq_topk at that setting with exact lattice top-k (the eval
    measures the real search path, not a re-implementation); a
    zero-overlap query still reports recall 0; deterministic under
    repartition. On well-separated clusters, probing every cell must
    reach full recall of the cluster-mates ADC ranks first."""
    import numpy as np

    from relationalize_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_recall_eval,
        ivfpq_topk,
    )

    rng = np.random.RandomState(13)
    centers = rng.standard_normal((4, 16)) * 6
    vecs = np.concatenate(
        [c + rng.standard_normal((30, 16)) * 0.3 for c in centers]
    )
    perm = rng.permutation(len(vecs))
    rows = [(int(i * 3 + 7), [float(x) for x in v])  # non-dense, non-0-based
            for i, v in enumerate(vecs[perm])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = ivfpq_recall_eval(
        corpus, nprobes=(1, 4), n_queries=6, k=5,
        cells=4, coarse_iters=2, m=4, pq_k=8, pq_iters=2,
    )
    got = {(r.nprobe, r.query_id): (r.n_overlap, r.recall_at_k)
           for r in out.collect()}
    panel_ids = sorted(r[0] for r in rows)[:6]
    assert sorted({q for _, q in got}) == panel_ids
    assert len(got) == 2 * 6
    assert all(0 <= rec <= 1 and ov == round(rec * 5)
               for ov, rec in got.values())
    # nprobe=cells probes everything: recall equals flat-ADC vs exact
    coarse, books, codes = ivfpq_index(
        corpus, cells=4, coarse_iters=2, m=4, k=8, pq_iters=2
    )
    panel = corpus.orderBy("vec_id").limit(6)
    full = ivfpq_topk(codes, panel, coarse, books, nprobe=4, k=5)
    by_q = {}
    for r in full.collect():
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    from relationalize_spark.operators.similarity import JL_FP, _int_l2

    vq = corpus.select(
        "vec_id",
        F.transform(
            F.transform("embedding", lambda x: x.cast("double")),
            lambda x: F.floor(x * F.lit(float(JL_FP))),
        ).alias("vq"),
    )
    q = vq.orderBy("vec_id").limit(6).select(
        F.col("vec_id").alias("qid"), F.col("vq").alias("qv")
    )
    exact = {}
    for r in (
        vq.crossJoin(q)
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _int_l2("vq", "qv").alias("d2"))
        .collect()
    ):
        exact.setdefault(r.qid, []).append((r.d2, r.vec_id))
    for qid, pairs in exact.items():
        truth = {v for _, v in sorted(pairs)[:5]}
        want = len(truth & by_q[qid])
        assert got[(4, qid)] == (want, want / 5.0)
    # deterministic under repartition
    out2 = ivfpq_recall_eval(
        corpus.repartition(7), nprobes=(1, 4), n_queries=6, k=5,
        cells=4, coarse_iters=2, m=4, pq_k=8, pq_iters=2,
    )
    assert {(r.nprobe, r.query_id): (r.n_overlap, r.recall_at_k)
            for r in out2.collect()} == got


def test_bigram_nll_matches_python_mirror(spark):
    # Exact mirror of the interpolated-bigram math, including the
    # floor-onto-1e-9-BIGINT-lattice quantization points, on a tiny
    # corpus.
    import math
    from collections import Counter

    from relationalize_spark.operators.text import bigram_nll_scores

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ate the cat food"),
        (3, "dog"),          # 1 token: no bigrams, excluded
        (4, "mat on the cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    lam = 0.75
    uni: Counter = Counter()
    bg: Counter = Counter()
    docs = {}
    for i, t in rows:
        toks = t.lower().split()
        uni.update(toks)
        pairs = list(zip(toks, toks[1:]))
        bg.update(pairs)
        if len(toks) >= 2:
            docs[i] = (len(toks), pairs)
    n_corpus, v_size = sum(uni.values()), len(uni)
    cv = Counter()
    for (v, w), c in bg.items():
        cv[v] += c
    want = {}
    for i, (dl, pairs) in docs.items():
        s = 0
        for v, w in pairs:
            p = lam * ((bg[(v, w)] + 1) / (cv[v] + v_size)) + (1 - lam) * (
                (uni[w] + 1) / (n_corpus + v_size)
            )
            s += math.floor(math.log(p) * 1e9)
        want[i] = (dl, -s / ((dl - 1) * 1e9))
    got = {
        r.doc_id: (r.n_tokens, r.avg_nll)
        for r in bigram_nll_scores(df).collect()
    }
    assert got == want
    # repartition-invariant (the decimal quantization point is what
    # makes the sum order-free)
    got2 = {
        r.doc_id: (r.n_tokens, r.avg_nll)
        for r in bigram_nll_scores(df.repartition(7)).collect()
    }
    assert got2 == want


def test_tfidf_pairs_matches_python_mirror(spark):
    import math
    from collections import Counter

    from relationalize_spark.operators.dedup import tfidf_pairs

    rows = [
        (1, "apples and oranges are fruit"),
        (2, "apples and oranges are tasty fruit"),
        (3, "the stock market fell sharply today"),
        (4, "stock market prices fell today"),
        (5, "completely unrelated zebra text"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    thr, max_df = 0.25, 4
    docs = {i: Counter(t.lower().split()) for i, t in rows}
    dft = Counter(t for c in docs.values() for t in c)
    n = len(rows)
    nw = {}
    for i, c in docs.items():
        wq = {
            t: tf * math.floor((math.log((1 + n) / (1 + dft[t])) + 1) * 1e6)
            for t, tf in c.items()
            if dft[t] <= max_df
        }
        n2 = sum(v * v for v in wq.values())
        nw[i] = {
            t: math.floor(v * 1e6 / math.sqrt(float(n2)))
            for t, v in wq.items()
            if dft[t] >= 2
        }
    want = {}
    for i in docs:
        for j in docs:
            if i < j:
                dot = sum(nw[i][t] * nw[j][t] for t in nw[i] if t in nw[j])
                if dot >= math.floor(thr * 1e12):
                    shared = len(set(nw[i]) & set(nw[j]))
                    want[(i, j)] = (shared, dot / 1e12)
    got = {
        (r.i, r.j): (r.shared_terms, r.cos_sim)
        for r in tfidf_pairs(df, threshold=thr, max_df=max_df).collect()
    }
    assert got == want
    assert (1, 2) in got and (3, 4) in got  # the planted near-pairs
    assert not any(5 in p for p in got)
    # repartition-invariant: every cross-row sum rides the lattice
    got2 = {
        (r.i, r.j): (r.shared_terms, r.cos_sim)
        for r in tfidf_pairs(
            df.repartition(7), threshold=thr, max_df=max_df
        ).collect()
    }
    assert got2 == want
    # r11: the opt-in Bayardo prefix-filter lane and the single-stage
    # lane are result-identical — the pruning decision is exact
    # integer arithmetic on the same lattice
    got3 = {
        (r.i, r.j): (r.shared_terms, r.cos_sim)
        for r in tfidf_pairs(
            df, threshold=thr, max_df=max_df, prefix_filter=True
        ).collect()
    }
    assert got3 == want


def test_tfidf_prefix_filter_equivalence_real_corpus(spark, sf_dir):
    """r11 (VERDICT r10 item 6): prefix-filtered and unfiltered APSS
    agree pair-for-pair, value-for-value on the real documents table
    at two thresholds (high = deep pruning, low = shallow)."""
    from relationalize_spark.operators.dedup import tfidf_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for thr in (0.8, 0.3):
        on = {
            (r.i, r.j): (r.shared_terms, r.cos_sim)
            for r in tfidf_pairs(
                d, threshold=thr, max_df=1000, prefix_filter=True
            ).collect()
        }
        off = {
            (r.i, r.j): (r.shared_terms, r.cos_sim)
            for r in tfidf_pairs(
                d, threshold=thr, max_df=1000, prefix_filter=False
            ).collect()
        }
        assert on == off and on  # identical and non-trivial


def test_tfidf_prefix_filter_prunes_in_its_regime(spark):
    """The regime the opt-in lane exists for: a NATURAL (untagged)
    vocabulary where a high-df low-weight term drives the candidate
    fanout. The suffix bound must evict that term from every prefix
    (python-mirrored here), collapsing the candidate join to the
    genuinely-near pairs, while both lanes stay result-identical."""
    import math
    from collections import Counter

    from relationalize_spark.operators.dedup import tfidf_pairs

    # 20 docs: unique heavy head terms + one shared low-weight tail
    # term; docs 0 and 1 are exact duplicates (the qualifying pair).
    rows = [(0, "alpha " * 10 + "common"), (1, "alpha " * 10 + "common")]
    rows += [(i, f"uniq{i} " * 10 + "common") for i in range(2, 20)]
    rows = [(i, t.strip()) for i, t in rows]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    thr, max_df = 0.8, 1000

    # python mirror of the prefix construction
    docs = {i: Counter(t.lower().split()) for i, t in rows}
    dft = Counter(t for c in docs.values() for t in c)
    n = len(rows)
    thr_q = math.floor(thr * 1e12)
    bound = (thr_q * thr_q - 1) // 10**12
    n_joinable = n_prefix = 0
    for i, c in docs.items():
        wq = {
            t: tf * math.floor((math.log((1 + n) / (1 + dft[t])) + 1) * 1e6)
            for t, tf in c.items()
            if dft[t] <= max_df
        }
        n2 = sum(v * v for v in wq.values())
        nw = {
            t: math.floor(v * 1e6 / math.sqrt(float(n2)))
            for t, v in wq.items()
            if dft[t] >= 2
        }
        order = sorted(nw, key=lambda t: (dft[t], t))
        suffix = [nw[t] ** 2 for t in order]
        for k in range(len(order)):
            n_joinable += 1
            if sum(suffix[k:]) > bound:
                n_prefix += 1
    # 'common' (df=20) is every doc's only low-weight tail term and
    # must fall out of every prefix; only the duplicate pair's shared
    # heavy term survives.
    assert n_joinable == 22 and n_prefix == 2

    on = {
        (r.i, r.j): (r.shared_terms, r.cos_sim)
        for r in tfidf_pairs(
            df, threshold=thr, max_df=max_df, prefix_filter=True
        ).collect()
    }
    off = {
        (r.i, r.j): (r.shared_terms, r.cos_sim)
        for r in tfidf_pairs(
            df, threshold=thr, max_df=max_df, prefix_filter=False
        ).collect()
    }
    assert on == off
    assert set(on) == {(0, 1)}  # the duplicates; 'common' alone can't reach 0.8


def test_tfidf_maxweight_bound_prunes_beyond_cauchy_schwarz(spark):
    """r12 (VERDICT r11 item 5): the per-term maxweight suffix bound
    prunes prefix terms the Cauchy-Schwarz bound keeps. Regime: a
    suffix holding ~69% of a document's squared mass — CS keeps it
    (sqrt(0.69) = 0.83 >= tau = 0.8) but the maxweight sum is 0.69 <
    0.8 when every term's corpus maxweight equals the document's own
    weight. Python-mirrors both bounds on the exact integer lattice,
    then pins the Spark lanes result-identical."""
    import math
    from collections import Counter

    from relationalize_spark.operators.dedup import tfidf_pairs

    # docs 0/1: tf(a)=2, tf(b)=3 -> normalized squared masses 4/13 and
    # 9/13; suffix from b = 0.692. noise docs keep a,b's df at 2.
    rows = [(0, "a a b b b"), (1, "a a b b b")]
    rows += [(i, f"x{i} x{i} y{i}") for i in range(2, 8)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    thr, max_df = 0.8, 1000
    thr_q = math.floor(thr * 1e12)

    docs = {i: Counter(t.lower().split()) for i, t in rows}
    dft = Counter(t for c in docs.values() for t in c)
    n = len(rows)
    nw_by_doc = {}
    for i, c in docs.items():
        wq = {
            t: tf * math.floor((math.log((1 + n) / (1 + dft[t])) + 1) * 1e6)
            for t, tf in c.items()
            if dft[t] <= max_df
        }
        n2 = sum(v * v for v in wq.values())
        nw_by_doc[i] = {
            t: math.floor(v * 1e6 / math.sqrt(float(n2)))
            for t, v in wq.items()
            if dft[t] >= 2
        }
    maxw = Counter()
    for nw in nw_by_doc.values():
        for t, v in nw.items():
            maxw[t] = max(maxw[t], v)
    max_ssq = max(sum(v * v for v in nw.values()) for nw in nw_by_doc.values())
    n_cs = n_both = 0
    for i, nw in nw_by_doc.items():
        order = sorted(nw, key=lambda t: (dft[t], t))
        for k in range(len(order)):
            suf = order[k:]
            ssq_from = sum(nw[t] * nw[t] for t in suf)
            mw_from = sum(nw[t] * maxw[t] for t in suf)
            cs_ok = ssq_from * max_ssq >= thr_q * thr_q
            if cs_ok:
                n_cs += 1
                if mw_from >= thr_q:
                    n_both += 1
    # docs 0/1 each: CS keeps both a and b; maxweight evicts b.
    # noise docs: only their own x/y terms, all df=1 -> not joinable.
    assert n_cs == 4 and n_both == 2

    on = {
        (r.i, r.j): (r.shared_terms, r.cos_sim)
        for r in tfidf_pairs(
            df, threshold=thr, max_df=max_df, prefix_filter=True
        ).collect()
    }
    off = {
        (r.i, r.j): (r.shared_terms, r.cos_sim)
        for r in tfidf_pairs(
            df, threshold=thr, max_df=max_df, prefix_filter=False
        ).collect()
    }
    assert on == off
    assert set(on) == {(0, 1)}  # the duplicates, found via prefix term a


def test_canonical_dedup_collapses_normalization_variants(spark):
    from relationalize_spark.operators.text import (
        canonical_dedup,
        canonicalize_text,
    )

    rows = [
        (1, "Hello, World!"),
        (2, "hello   world"),
        (3, "HELLO WORLD !!"),
        (4, "goodbye world"),
        (5, ""),
        (6, "  ?!  "),  # canonicalizes to empty too
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    canon = {
        r.doc_id: r.c
        for r in df.select(
            "doc_id", canonicalize_text("text").alias("c")
        ).collect()
    }
    assert canon[1] == canon[2] == canon[3] == "hello world"
    assert canon[5] == canon[6] == ""
    groups = {
        r.survivor_id: r.n_variants for r in canonical_dedup(df).collect()
    }
    assert groups == {1: 3, 4: 1, 5: 2}


def test_jl_projection_and_recall(spark):
    # Clustered corpus: JL with out_dim=16 over 64 dims should keep
    # most planted same-cluster neighbors; the mirror recomputes the
    # exact integer pipeline for one query.
    import hashlib
    import math
    import random

    from relationalize_spark.operators.similarity import (
        JL_FP,
        jl_project,
        jl_recall_eval,
        jl_signs,
    )

    rng = random.Random(7)
    # 5 query points, each with 10 planted tight neighbors; 200
    # scattered distractors. Exact top-10 = the planted set, and the
    # JL gap is large enough that 16 dims must preserve it.
    rows = []
    for q in range(5):
        center = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((q, center))
        for c in range(10):
            rows.append(
                (100 + q * 10 + c, [x + rng.gauss(0, 0.01) for x in center])
            )
    for i in range(200):
        rows.append((1000 + i, [rng.uniform(-1, 1) for _ in range(64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # mirror the projection for a handful of vectors
    signs = jl_signs(64, 16, seed=0)
    got = {r.id: list(r.proj) for r in jl_project(df, out_dim=16).collect()}
    f32 = {r.vec_id: list(r.embedding) for r in df.collect()}  # float32 cast
    for i in (0, 101, 1033):
        vq = [math.floor(float(x) * JL_FP) for x in f32[i]]
        want = [sum(s * v for s, v in zip(signs[k], vq)) for k in range(16)]
        assert got[i] == want, i
    ev16 = {r.query_id: r.recall_at_k for r in jl_recall_eval(df, 5, 10).collect()}
    assert set(ev16) == set(range(5))
    assert all(v >= 0.9 for v in ev16.values()), ev16


def test_class_tfidf_keywords(spark):
    import math

    from relationalize_spark.operators.text import class_tfidf_keywords

    rows = [
        (1, "a", "spark shuffle spark partition common"),
        (2, "a", "spark executor common"),
        (3, "b", "tokenizer vocab tokenizer merge common"),
        (4, "b", "tokenizer corpus common"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    out = class_tfidf_keywords(df, top_k=2)
    got = {(r.source, r.rank): (r.term, r.score) for r in out.collect()}
    # class-exclusive high-frequency terms win; 'common' (cdf=2) idf
    # floors to 1.0 exactly: ln(3/3)+1 = 1
    idf1 = math.floor((math.log(3 / 2) + 1) * 1e6)
    assert got[("a", 1)] == ("spark", 3 * idf1 / 1e6)
    assert got[("b", 1)] == ("tokenizer", 3 * idf1 / 1e6)
    # rank-2: 'common' appears 2x per class with idf exactly 1.0
    assert got[("a", 2)] == ("common", 2.0)
    assert got[("b", 2)] == ("common", 2.0)


def test_canonicalize_vertical_tab_engine_parity(spark):
    # Java \s includes \x0b, RE2's does not — the explicit whitespace
    # class keeps Spark and DuckDB byte-identical (r9 review finding).
    import duckdb

    from relationalize_spark.operators.text import canonicalize_text

    texts = ["a\x0bb", "A\x0b B!", "x\x0b\x0b\ty"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonicalize_text("t").alias("c")).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = con.execute(
            r"""SELECT trim(regexp_replace(
                 regexp_replace(lower(?), '[^a-z0-9 \t\n\x0B\f\r]', '', 'g'),
                 '[ \t\n\x0B\f\r]+', ' ', 'g'))""",
            [t],
        ).fetchone()[0]
        assert got[i] == want, (i, got[i], want)
    assert got[0] == "a b"


def test_tokenizer_vertical_tab_engine_parity(spark):
    # r10 generalization of the canonicalize finding to the SHARED
    # tokenizer: the explicit WS class makes Spark's split and
    # DuckDB's regexp_split_to_array produce identical token arrays
    # on \x0B-bearing text (RE2's \s excludes U+000B; Java's
    # includes it — WS spells the Java class out for both engines).
    import duckdb

    from relationalize_spark.operators.text import WS, tokens

    texts = ["a\x0bb c", "x\x0b\x0by", "p\tq\x0br"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    got = {r.i: r.tk for r in df.select("i", tokens("t").alias("tk")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = con.execute(
            r"SELECT regexp_split_to_array(?, '[ \t\n\x0B\f\r]+')", [t]
        ).fetchone()[0]
        assert got[i] == want, (i, got[i], want)
    assert got[0] == ["a", "b", "c"]
    # and WS itself is the Java-\s-identical class both sides embed
    assert WS == r"[ \t\n\x0B\f\r]+"


def test_no_round_quantizers_in_package():
    """r10: the floor-lattice sweep's pin. round() on a float
    expression is unstable across Spark's own evaluation paths at a
    half-way boundary (the r9 q143 gate failure) and Spark/DuckDB
    round semantics differ — so no operator or oracle may quantize
    with round. Allowed: vectors.py's int8 round-to-INTEGER (both
    engines round .5 away from zero, and the operand pair is
    bit-identical), and that one's oracle mirror."""
    import pathlib
    import re

    # anchor on this test file, not the cwd — a different pytest
    # rootdir must not turn the scan into a vacuous pass (r10 review)
    root = pathlib.Path(__file__).resolve().parent.parent / "relationalize_spark"
    assert root.is_dir()
    offenders = []
    for f in root.rglob("*.py"):
        for i, line in enumerate(f.read_text().split("\n"), 1):
            code = line.split("#")[0]
            if "F.round(" in code and f.name != "vectors.py":
                offenders.append(f"{f}:{i}: {line.strip()}")
    # oracle/SQL strings: the ONLY allowed round( is the int8
    # round-to-INTEGER quantization mirror, matched exactly — no
    # context heuristics (the old ±40-char window whitelisted any
    # ROUND near unrelated Python text)
    sql_src = (root / "queries.py").read_text()
    allowed = re.compile(r"round\(x / s\) \* s")
    for m in re.finditer(r"(?i)round\(", sql_src):
        if sql_src[max(0, m.start() - 2) : m.start()] == "F.":
            continue  # python API hits are covered by the scan above
        if allowed.match(sql_src, m.start()):
            continue
        ctx = sql_src[m.start() - 40 : m.end() + 40].replace("\n", " ")
        offenders.append(f"queries.py sql: ...{ctx}...")
    assert not offenders, offenders


def test_oracle_sql_whitespace_class_matches_spark_ws():
    """r10 review: the explicit whitespace class lives as ~50 literal
    copies inside the oracle SQL strings; this pins every copy
    byte-identical to the Spark side's text.WS so a future class
    change cannot silently diverge one engine. Also asserts no oracle
    still tokenizes with the engine-divergent \\s shorthand."""
    import re

    import __spark_entry__ as entry_mod
    from relationalize_spark.operators.text import WS

    assert WS == r"[ \t\n\x0B\f\r]+"
    split_cls = re.compile(r"regexp_split_to_array\([^,]+,\s*'([^']+)'\)")
    for name, sql in entry_mod.oracle_sql().items():
        for cls in split_cls.findall(sql):
            assert cls == WS, (name, cls)
        # \s may appear only inside the explicit class spelling
        for m in re.finditer(r"\\s", sql):
            ctx = sql[max(0, m.start() - 20):m.end() + 5]
            raise AssertionError((name, ctx))


def test_tfidf_pairs_registers_residual_cache(spark):
    from relationalize_spark.plans import caches
    from relationalize_spark.operators.dedup import tfidf_pairs

    caches.release_caches()
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id int, text string"
    )
    out = tfidf_pairs(df, threshold=0.1, max_df=10)
    assert len(caches.LIVE_CACHES) == 1
    n = out.count()
    released = caches.release_caches()
    assert released == 1 and not caches.LIVE_CACHES
    assert out.count() == n  # post-release recompute, same result


def test_floor_lattice_cross_engine_parity(spark):
    """The shared quantizer's contract: for the same input double,
    Spark's floor_lattice, python's math.floor mirror, and DuckDB's
    CAST(FLOOR(x*1eN) AS BIGINT)/1eN produce the identical double.
    Hypothesis drives python<->DuckDB over adversarial values (exact
    lattice points, halves, ulp-neighbors); one vectorized Spark pass
    confirms the Column form on the same battery."""
    import math

    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from relationalize_spark.functions.lattice import floor_lattice

    con = duckdb.connect()

    def duck(x, dp):
        return con.execute(
            f"SELECT CAST(FLOOR(CAST(? AS DOUBLE) * 1e{dp}) AS BIGINT)"
            f" / 1e{dp}"
        ).df() if False else con.execute(
            f"SELECT CAST(FLOOR(CAST(? AS DOUBLE) * 1e{dp}) AS BIGINT)"
            f" / 1e{dp}", [x]
        ).fetchone()[0]

    @settings(max_examples=300, deadline=None)
    @given(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6,
                      allow_nan=False, allow_infinity=False),
            st.integers(min_value=-10**12, max_value=10**12).map(
                lambda q: q / 1e6  # exact and near-lattice points
            ),
        ),
        st.sampled_from([6, 9, 12]),
    )
    def prop(x, dp):
        py = math.floor(x * float(10**dp)) / float(10**dp)
        assert duck(x, dp) == py, (x, dp)

    prop()

    battery = [0.0, 1.0, -1.0, 0.4499999999999999, 0.45,
               0.45000000000000007, -0.45, 3.419471499980769,
               123456.789012, -2.2250738585072014e-308]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(battery)],
                               "i int, x double")
    got = {r.i: r.q for r in df.select(
        "i", floor_lattice(F.col("x"), 6).alias("q")).collect()}
    for i, v in enumerate(battery):
        assert got[i] == math.floor(v * 1e6) / 1e6 == duck(v, 6), v


def test_oracle_float_literals_are_ieee_safe():
    """r10 second-review pin: SQL engines parse bare float literals
    as exact DECIMALs and do DECIMAL arithmetic when BOTH operands
    are decimal — diverging from the IEEE doubles Spark's plan folds
    (the reproduced q121 `1 - 0.85` defect). Every inexact bare float
    literal in an oracle must therefore sit in arithmetic with a
    runtime (double) operand or inside CAST(... AS DOUBLE); literals
    whose decimal value IS a double (0.5, 0.75, 1.0 ...) are exempt,
    as is q121's `1 - 0.85` (its python side deliberately mirrors
    the decimal subtraction through Decimal)."""
    import re
    from decimal import Decimal

    import __spark_entry__ as entry_mod

    def binary_exact(lit):
        return Decimal(lit) == Decimal(float(lit))

    offenders = []
    for name, sql in entry_mod.oracle_sql().items():
        for m in re.finditer(r"(?<![\w.])(\d+\.\d+)(?![\w.])", sql):
            lit = m.group(1)
            if binary_exact(lit):
                continue
            pre = sql[max(0, m.start() - 40) : m.start()]
            post = sql[m.end() : m.end() + 40]
            if name == "q121_pagerank" and re.search(r"1 - $", pre):
                continue  # whitelisted: python mirrors the decimal op
            if re.search(r"(?i)cast\(\s*$", pre):
                continue  # CAST(lit AS DOUBLE)
            # decimal-decimal arithmetic: the IMMEDIATE other operand
            # of the operator touching this literal is itself a bare
            # number (int or inexact decimal) — DECIMAL arithmetic,
            # flagged regardless of anything else in the expression
            both_literal = re.search(
                r"(?<![\w.eE])\d+(\.\d+)?\s*[*+-]\s*$", pre
            ) or re.search(r"^\s*[*+-]\s*\d+(\.\d+)?(?![\w.eE])", post)
            if both_literal:
                offenders.append(
                    f"{name}: ...{pre[-30:]}<{lit}>{post[:30]}..."
                )
                continue
            arithmetic = re.search(r"[*/+-]\s*$", pre) or re.search(
                r"^\s*[*/+-]", post
            )
            if not arithmetic:
                continue  # bare comparisons promote to double
            # arithmetic with a runtime operand (letters = column/
            # function refs) or an e-notation double literal is IEEE
            near = pre[-25:] + post[:25]
            if re.search(r"[A-Za-z_]", near) or re.search(
                r"\d+e\d+", near, re.I
            ):
                continue
            offenders.append(f"{name}: ...{pre[-30:]}<{lit}>{post[:30]}...")
    assert not offenders, offenders
