"""Scale spot-check: replicate the sf0.1 tables NX with disjoint keys
and re-time heavy operators warm, so round-over-round BASELINE.md
entries rest on measured scaling rather than plan inspection.

Replication preserves each operator's per-replica structure while
keeping replicas independent:

- events: user_id/event_id offset per replica (disjoint session
  streams — session/window group counts scale linearly).
- documents: every token is suffixed with the replica tag, so
  within-replica shingle structure (and true duplicate pairs) is
  preserved exactly while cross-replica Jaccard drops to ~0 — the
  spot check measures compute scaling, not the output-bound pair
  blowup a verbatim copy would create (see the r2 MinHash note in
  BASELINE.md for that regime).
- embeddings: vec_id offset + tiny first-component jitter; the ANN
  query set stays fixed (replica 0) while the corpus grows.

Usage:
    python examples/scale_spotcheck.py [MULT] [--rebuild] [--ops substr1,substr2]

Prints one JSON line per (operator, scale): cold and warm seconds
(second run, JIT and shuffle files hot) and output rows.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = "/tmp/spark_graft_scale"


def build(spark, mult: int, out_dir: str) -> None:
    r = F.col("__r__").cast("long")
    reps = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__r__")

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("*", reps)
    ev = (
        ev.withColumn("event_id", F.col("event_id") + r * F.lit(10_000_000_000))
        .withColumn("user_id", F.col("user_id") + r * F.lit(100_000_000))
        .drop("__r__")
    )
    ev.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("*", reps)
    tagged = F.array_join(
        F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda t: F.concat(t, F.lit("#"), r.cast("string")),
        ),
        " ",
    )
    docs = (
        docs.withColumn("doc_id", F.col("doc_id") + r * F.lit(10_000_000))
        .withColumn("text", tagged)
        .drop("__r__")
    )
    docs.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("*", reps)
    li = li.withColumn(
        "l_orderkey", F.col("l_orderkey") + r * F.lit(10_000_000_000)
    ).drop("__r__")
    li.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_name", reps
    )
    # doubled replica char: cross-replica names differ by >= 2 edits,
    # so a dist-1 fuzzy join finds only within-replica pairs (compute
    # scaling, not cross-replica output blowup)
    tag = F.chr(r + F.lit(48))
    cust = (
        cust.withColumn("c_custkey", F.col("c_custkey") + r * F.lit(10_000_000))
        .withColumn("c_name", F.concat(F.col("c_name"), F.lit("#"), tag, tag))
        .drop("__r__")
    )
    cust.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("*", reps)
    emb = (
        emb.withColumn("vec_id", F.col("vec_id") + r * F.lit(10_000_000))
        .withColumn(
            "embedding",
            F.transform(
                F.col("embedding"),
                lambda v, i: v + F.when(i == 0, r.cast("float") * F.lit(1e-4)).otherwise(F.lit(0.0)),
            ),
        )
        .drop("__r__")
    )
    emb.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def timed(fn, runs: int = 2):
    """(cold_s, warm_s, rows): execute to the noop sink; rows from a
    final count on the warm plan."""
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        out.append(round(time.perf_counter() - t0, 2))
    return out[0], out[-1], fn().count()


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 100
    rebuild = "--rebuild" in sys.argv
    out_dir = f"{OUT_ROOT}/x{mult}"

    # 32 local "executors" share one JVM: give it executor-scale heap
    # (12g/32 threads ~ 375 MB per concurrent task — the per-core
    # allotment of a modest real executor). The package default (4g)
    # suits the test suite; at 100x replication the posting-table
    # persist + 32 concurrent sort/agg tasks exhaust it
    # (UNABLE_TO_ACQUIRE_MEMORY), which a real cluster would not see.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")

    from relationalize_spark.operators.dedup import dedup_clusters, jaccard_pairs
    from relationalize_spark.operators.indexing import add_global_index
    from relationalize_spark.operators.similarity import lsh_topk
    from relationalize_spark.plans.session import get_spark
    from relationalize_spark.queries import (
        q85_rolling_time_window,
        q102_session_window_batch,
    )

    spark = get_spark(app="scale-spotcheck", master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    if rebuild and os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    if not os.path.exists(out_dir):
        build(spark, mult, out_dir)

    def clusters(sf):
        def run():
            d = spark.read.parquet(f"{sf}/documents.parquet")
            edges = jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5, max_df=1000)
            return dedup_clusters(d, edges, id_col="doc_id", src_col="i", dst_col="j")

        return run

    def ann(sf):
        def run():
            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            q = e.filter(F.col("vec_id") < 10)
            return lsh_topk(e, q, k=5, n_planes=3, n_tables=48, dim=64, round_scores=6)

        return run

    def gindex(sf):
        def run():
            e = spark.read.parquet(f"{sf}/events.parquet")
            return add_global_index(e, ["ts", "event_id"])

        return run

    def brute(sf):
        def run():
            from relationalize_spark.operators.similarity import brute_force_topk

            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            q = e.filter(F.col("vec_id") < 10)
            return brute_force_topk(e, q, k=5)

        return run

    def ivf(sf):
        def run():
            from relationalize_spark.operators.similarity import ivf_topk

            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            q = e.filter(F.col("vec_id") < 10)
            return ivf_topk(e, q, k=5, n_clusters=16, n_probe=4)

        return run

    def stream54(sf):
        def run():
            from relationalize_spark.queries import q54_streaming_windowed_counts

            return q54_streaming_windowed_counts(spark, sf)

        return run

    def relat(sf):
        def run():
            from relationalize_spark.queries import q22_relationalize_linkage

            return q22_relationalize_linkage(spark, sf)

        return run

    def simhash(sf):
        def run():
            from relationalize_spark.operators.dedup import simhash_pairs

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return simhash_pairs(d, "doc_id", "text", max_hamming=3)

        return run

    def exact(sf):
        def run():
            from relationalize_spark.operators.dedup import exact_dedup

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return exact_dedup(d, ["text"], tiebreak="doc_id")

        return run

    def minhash(sf):
        def run():
            from relationalize_spark.operators.dedup import minhash_lsh_pairs

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return minhash_lsh_pairs(
                d, "doc_id", "text", n=3, num_hashes=32, bands=16, threshold=0.8
            )

        return run

    def fuzzy(sf):
        def run():
            from relationalize_spark.operators.fuzzy import fuzzy_join

            c = spark.read.parquet(f"{sf}/customer.parquet")
            return fuzzy_join(
                c, c, "c_name", max_dist=1, left_id="c_custkey", right_id="c_custkey"
            ).filter(F.col("l_id") < F.col("r_id"))

        return run

    def segdedup(sf):
        def run():
            from relationalize_spark.operators.spans import segment_dedup

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return segment_dedup(d, "doc_id", "text", seg_words=10)

        return run

    def spans(sf):
        def run():
            from relationalize_spark.operators.spans import duplicate_span_stats

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return duplicate_span_stats(d, "doc_id", "text", n=3)

        return run

    def quota(sf):
        def run():
            from relationalize_spark.operators.sampling import group_quota_sample

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return group_quota_sample(d, "source", 20, id_col="doc_id")

        return run

    def nest_rt(sf):
        def run():
            from relationalize_spark.operators.nest import unrelationalize
            from relationalize_spark.operators.relationalize import relationalize

            l = spark.read.parquet(f"{sf}/lineitem.parquet").select(
                "l_orderkey", "l_linenumber", "l_quantity"
            )
            nested = l.groupBy("l_orderkey").agg(
                F.sort_array(
                    F.collect_list(F.struct("l_linenumber", "l_quantity"))
                ).alias("items")
            )
            tables = relationalize(nested, "o", key_cols=["l_orderkey"])
            back = unrelationalize(tables, "o")
            return back.select(
                "l_orderkey", F.size("items").alias("n")
            )

        return run

    def semdedup(sf):
        def run():
            from relationalize_spark.operators.dedup import semdedup_pairs

            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            # SemDeDup's contract: k grows with N so cell size stays
            # constant (within-cell compare count then scales linearly).
            k = 16 if sf == SF_DIR else 16 * mult
            return semdedup_pairs(e, "vec_id", "embedding", k=k, threshold=0.999)

        return run

    def cohort(sf):
        def run():
            from relationalize_spark.operators.timeseries import cohort_retention

            e = spark.read.parquet(f"{sf}/events.parquet")
            return cohort_retention(e, "user_id", "ts")

        return run

    def funnel(sf):
        def run():
            from relationalize_spark.operators.funnel import funnel_steps

            e = spark.read.parquet(f"{sf}/events.parquet")
            return funnel_steps(
                e, "user_id", "ts", "event_type",
                ["signup", "view", "click", "purchase"],
            )

        return run

    def checksum(sf):
        def run():
            from relationalize_spark.operators.audit import table_checksum

            l = spark.read.parquet(f"{sf}/lineitem.parquet")
            return table_checksum(l, ["l_orderkey", "l_linenumber", "l_returnflag"])

        return run

    def prank(sf):
        def run():
            from relationalize_spark.operators.graph import pagerank

            li = spark.read.parquet(f"{sf}/lineitem.parquet").filter(
                F.col("l_linenumber") == 1
            )
            pairs = li.select(
                F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("src"),
                F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("dst"),
            )
            edges = pairs.union(
                pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            return pagerank(edges, max_iter=3)

        return run

    def psi(sf):
        def run():
            from relationalize_spark.operators.drift import psi_drift

            e = spark.read.parquet(f"{sf}/events.parquet")
            return psi_drift(
                e.filter(F.col("user_id") % 2 == 0),
                e.filter(F.col("user_id") % 2 == 1),
                "value",
                n_bins=10,
            )

        return run

    def outliers(sf):
        def run():
            from relationalize_spark.operators.audit import robust_outliers

            e = spark.read.parquet(f"{sf}/events.parquet")
            return robust_outliers(e, ["event_type"], "value", z_thresh=3.5)

        return run

    def knn(sf):
        def run():
            from relationalize_spark.operators.similarity import knn_label_eval

            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            # fixed 13-query panel at both scales (vec_id < 500 hits
            # replica 0 only): measures corpus-side scaling, not a
            # 100x-larger eval set
            q = e.filter((F.col("vec_id") < 500) & (F.col("vec_id") % 40 == 0))
            return knn_label_eval(e, queries=q, k=5)

        return run

    def pit_lookup(sf):
        def run():
            from relationalize_spark.operators.scd2 import (
                scd2_from_snapshots,
                scd2_lookup,
            )

            e = spark.read.parquet(f"{sf}/events.parquet")
            snap = e.groupBy("user_id", "ts").agg(
                F.min("event_type").alias("state")
            )
            dim = scd2_from_snapshots(snap, ["user_id"], ["state"], "ts")
            facts = e.filter(F.col("event_type") == "purchase").select(
                "event_id", "user_id", "ts"
            )
            return scd2_lookup(facts, dim, ["user_id"], "ts", value_cols=["state"])

        return run

    def winnow_op(sf):
        def run():
            from relationalize_spark.operators.text import winnow_fingerprint
            from relationalize_spark.plans.scale import ensure_parallelism

            # like q33: single-row-group input scans as ONE task
            d = ensure_parallelism(spark.read.parquet(f"{sf}/documents.parquet"))
            # noop sink MATERIALIZES the fingerprints — a count() would
            # let Catalyst prune the whole computation (how the O(n^2)
            # window-stage recompute stayed invisible for two rounds)
            return d.select(
                "doc_id", winnow_fingerprint("text").alias("fp")
            )

        return run

    def chunk_op(sf):
        def run():
            from relationalize_spark.operators.text import chunk_documents
            from relationalize_spark.plans.scale import ensure_parallelism

            d = ensure_parallelism(spark.read.parquet(f"{sf}/documents.parquet"))
            # q77 shape; noop sink materializes every chunk string
            return chunk_documents(d, "doc_id", "text", chunk_tokens=16, overlap=4)

        return run

    def dynrel_op(sf):
        def run():
            # q125 shape on the events table (orders is not replicated):
            # per-row dynamic key -> variant-branch relationalize ->
            # child stats re-joined. Exercises the dynamic analysis
            # (whole-object merge + one path-keyed stats round) and
            # _expand_variants' per-row split-out at scale, including
            # the JSON parse of every row.
            from relationalize_spark.plans.scale import ensure_parallelism
            from relationalize_spark.sources.jsonl import relationalize_json

            e = spark.read.parquet(f"{sf}/events.parquet")
            line = F.concat(
                F.lit('{"k": '),
                F.col("event_id").cast("string"),
                F.lit(', "v": '),
                F.when(F.col("event_id") % 3 == 0, F.col("user_id").cast("string"))
                .when(
                    F.col("event_id") % 3 == 1,
                    F.concat(
                        F.lit("["),
                        (F.col("user_id") % 100).cast("string"),
                        F.lit(", "),
                        (F.col("event_id") % 7).cast("string"),
                        F.lit("]"),
                    ),
                )
                .otherwise(
                    F.concat(
                        F.lit('{"a": '),
                        (F.col("user_id") % 1000).cast("string"),
                        F.lit(', "b": "'),
                        F.col("event_type"),
                        F.lit('"}'),
                    )
                ),
                F.lit("}"),
            )
            vdf = ensure_parallelism(e.select(F.parse_json(line).alias("v")))
            res = relationalize_json(vdf, "dyn", key_cols=["k"])
            root, child = res["dyn"], res["dyn_v"]
            stats = child.groupBy(F.col("v__rid_").alias("rid")).agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("v__val_").alias("sum_items"),
            )
            return root.join(stats, root["v_str"] == stats["rid"], "left").select(
                "k", "v_int", "v_str", "v_a", "v_b", "n_items", "sum_items"
            )

        return run

    def kmv_op(sf):
        def run():
            from relationalize_spark.operators.sketches import kmv_sketch

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return kmv_sketch(d, ["source"], "text", k=64)

        return run

    def span_removal_op(sf):
        def run():
            from relationalize_spark.operators.spans import remove_duplicate_spans

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return remove_duplicate_spans(d, "doc_id", "text", n=3, min_span=6)

        return run

    def logreg_op(sf):
        def run():
            from relationalize_spark.operators.classify import hashed_logreg

            d = spark.read.parquet(f"{sf}/documents.parquet")
            # contains(), not token equality: replica tagging rewrites
            # 'spark' -> 'spark#r', and the spotcheck should keep the
            # label distribution (and thus the gradient work) constant
            # across scales. Training is eager — the fit's 3 GD
            # iterations run inside fn(), which is what timed() sees.
            return hashed_logreg(
                d, F.col("text").contains("spark"), dim=32, lr=2.0, iters=3
            )

        return run

    def bpe_op(sf):
        def run():
            from relationalize_spark.operators.bpe import bpe_train_df

            d = spark.read.parquet(f"{sf}/documents.parquet")
            # replica tagging multiplies the distinct-word vocab 100x
            # (tok#r suffixes), which is exactly the dimension BPE
            # training scales in — training is eager inside fn()
            return bpe_train_df(d, "text", merges=5)

        return run

    def pq_op(sf):
        def run():
            from relationalize_spark.operators.similarity import (
                pq_encode,
                pq_topk,
                pq_train,
            )

            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            # training + encoding are eager/corpus-wide; the search
            # panel stays fixed at replica 0 (corpus-side scaling)
            books = pq_train(e, m=4, k=16, iters=3)
            codes = pq_encode(e, books)
            q = e.filter((F.col("vec_id") < 500) & (F.col("vec_id") % 40 == 0))
            return pq_topk(codes, q, books, k=5)

        return run

    def stream_score_op(sf):
        def run():
            from relationalize_spark.operators.classify import (
                hashed_logreg,
                stateless_score_col,
            )

            # train ONCE on the 1x corpus at both scales: the row
            # isolates the STREAMING scan+fold+aggregation scaling
            # (training's own scaling is the hashed_logreg row)
            d1 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
            w = {
                r.feature: r.weight
                for r in hashed_logreg(
                    d1, F.col("text").contains("spark"), dim=32, lr=2.0, iters=3
                ).collect()
            }
            from relationalize_spark.queries import _stream_parquet

            stream = _stream_parquet(spark, sf, "documents")
            sq = stateless_score_col(w, "text", dim=32, as_quanta=True)
            agg = (
                stream.select("source", sq.alias("sq"))
                .where(F.col("sq").isNotNull())
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("sq").alias("score_q_sum"))
            )
            import uuid

            name = f"spot_q141_{uuid.uuid4().hex[:8]}"
            q = (
                agg.writeStream.format("memory").queryName(name)
                .outputMode("complete").trigger(availableNow=True).start()
            )
            q.awaitTermination()
            return spark.table(name)

        return run

    def ivfpq_op(sf):
        def run():
            from relationalize_spark.operators.similarity import (
                ivfpq_index,
                ivfpq_topk,
            )

            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            # coarse fit + residuals + 4 sub-fits + encode are eager /
            # corpus-wide; the 13-query panel probes 2 of 8 cells
            coarse, books, codes = ivfpq_index(
                e, cells=8, coarse_iters=2, m=4, k=16, pq_iters=2
            )
            q = e.filter((F.col("vec_id") < 500) & (F.col("vec_id") % 40 == 0))
            return ivfpq_topk(codes, q, coarse, books, nprobe=2, k=5)

        return run

    def dsir_op(sf):
        def run():
            from relationalize_spark.operators.dsir import dsir_select

            d = spark.read.parquet(f"{sf}/documents.parquet")
            # the LM fit is eager inside fn() (one dim-key shuffle over
            # the 100x token stream); scoring is the zero-shuffle scan
            # fold and the fixed k=25 panel materializes via the sink.
            # source is untouched by replica tagging, so the
            # target/raw split (and the fit's label work) stays
            # proportionally constant across scales.
            return dsir_select(
                d, F.col("source").isin("src0", "src1"), dim=64, k=25
            )

        return run


    def bigram_op(sf):
        def run():
            from relationalize_spark.operators.text import bigram_nll_scores

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return bigram_nll_scores(d)

        return run

    def tfidf_pairs_op(sf):
        def run():
            from relationalize_spark.operators.dedup import tfidf_pairs

            d = spark.read.parquet(f"{sf}/documents.parquet")
            # replica tagging keeps pair structure within-replica: the
            # measured growth is compute + within-replica pair output,
            # not a cross-replica blowup (the q29 spotcheck regime)
            return tfidf_pairs(d, threshold=0.8, max_df=1000)

        return run

    def image_dup_op(sf, kind="dhash"):
        def run():
            import pyspark.sql.functions as F

            from relationalize_spark.operators.dedup import hamming_dup_pairs
            from relationalize_spark.operators.multimodal import (
                image_signatures,
            )
            from relationalize_spark.queries import q152_token_images

            # the q152 shape, pixel recipe SHARED with the registered
            # query (q152_token_images — cyclic past the doc length;
            # constant padding degenerates into LSH mega-buckets,
            # measured r11): REAL decode -> dHash lane, banded
            # Hamming self-join
            d = spark.read.parquet(f"{sf}/documents.parquet")
            imgs = q152_token_images(d)
            sigs = image_signatures(
                imgs, binary_col="content", id_cols=("doc_id",), kind=kind
            ).where(F.col("sig").isNotNull())
            return hamming_dup_pairs(
                sigs,
                id_col="doc_id",
                sig_col=("sig", "sig2") if kind == "dhash128" else "sig",
                max_hamming=6,
                bands=8,
            )

        return run

    def relative_filter_op(sf):
        def run():
            from relationalize_spark.operators import text as TX
            from relationalize_spark.operators.sampling import (
                group_relative_filter,
            )

            d = spark.read.parquet(f"{sf}/documents.parquet").select(
                "doc_id", "lang", "text"
            )
            out = group_relative_filter(
                d, TX.quality_score("text"), ["lang"], keep_frac=0.4
            )
            return out.select("doc_id", "lang", "pct_rank")

        return run

    def canonical_dedup_op(sf):
        def run():
            from relationalize_spark.operators.text import canonical_dedup

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return canonical_dedup(d)

        return run

    def jl_recall_op(sf):
        def run():
            from relationalize_spark.operators.similarity import (
                jl_recall_eval,
            )

            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            # panel fixed at replica 0 (vec_id < 10); the corpus grows
            return jl_recall_eval(e, n_queries=10, k=10, out_dim=16)

        return run

    def gapfill_op(sf):
        def run():
            from relationalize_spark.operators.timeseries import (
                gapfill_interpolate,
            )

            e = spark.read.parquet(f"{sf}/events.parquet").where(
                F.col("event_type") == "purchase"
            )
            return gapfill_interpolate(e, "user_id", "ts", "value", step_s=21600)

        return run

    def class_tfidf_op(sf):
        def run():
            from relationalize_spark.operators.text import (
                class_tfidf_keywords,
            )

            d = spark.read.parquet(f"{sf}/documents.parquet")
            return class_tfidf_keywords(d, "source", top_k=5)

        return run

    def ivfpq_append_op(sf):
        def run():
            from relationalize_spark.operators.similarity import (
                ivfpq_append,
                ivfpq_index,
            )

            # frozen index trained once on the BASE corpus (index
            # build time is the q142 spotcheck's subject, not this
            # one's); the measured quantity is the pure-projection
            # incremental encode of the FULL scaled corpus — the
            # billion-row "add" path, expected ~linear in rows with
            # zero shuffle
            e_base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            coarse, books, _ = ivfpq_index(
                e_base, cells=8, coarse_iters=2, m=4, k=16, pq_iters=2
            )
            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            return ivfpq_append(e, coarse, books)

        return run

    def ivfpq_recall_op(sf):
        def run():
            from relationalize_spark.operators.similarity import (
                ivfpq_recall_eval,
            )

            e = spark.read.parquet(f"{sf}/embeddings.parquet")
            # index rebuild + per-nprobe probe-bounded searches + one
            # exact corpus scan against the 10-query panel
            return ivfpq_recall_eval(
                e, nprobes=(1, 2, 4), n_queries=10, k=5,
                cells=8, coarse_iters=2, m=4, pq_k=16, pq_iters=2,
            )

        return run

    ops = {
        "session_window_agg_q102": lambda sf: (lambda: q102_session_window_batch(spark, sf)),
        "range_frame_window_q85": lambda sf: (lambda: q85_rolling_time_window(spark, sf)),
        "global_index_q97shape": gindex,
        "ann_lsh_topk_q53shape": ann,
        "ann_ivf_topk": ivf,
        "ann_brute_q31shape": brute,
        "jaccard_dedup_clusters_q59shape": clusters,
        "minhash_lsh_q29shape": minhash,
        "simhash_q30shape": simhash,
        "exact_dedup_q26shape": exact,
        "relationalize_linkage_q22shape": relat,
        "streaming_windowed_q54shape": stream54,
        "fuzzy_join_q103shape": fuzzy,
        "segment_dedup_q104shape": segdedup,
        "dup_span_stats_q105shape": spans,
        "nest_roundtrip_q106shape": nest_rt,
        "group_quota_q107shape": quota,
        "semdedup_q108shape": semdedup,
        "cohort_retention_q111shape": cohort,
        "funnel_steps_q117shape": funnel,
        "table_checksum_q113shape": checksum,
        "pagerank_q121shape": prank,
        "psi_drift_q118shape": psi,
        "robust_outliers_q119shape": outliers,
        "knn_label_eval_q120shape": knn,
        "scd2_lookup_q122shape": pit_lookup,
        "winnow_q33shape": winnow_op,
        "chunk_docs_q77shape": chunk_op,
        "dynamic_relationalize_q125shape": dynrel_op,
        "kmv_sketch_q126shape": kmv_op,
        "span_removal_q132shape": span_removal_op,
        "hashed_logreg_q131shape": logreg_op,
        "bpe_train_q133shape": bpe_op,
        "pq_ann_q137shape": pq_op,
        "dsir_select_q138shape": dsir_op,
        "ivfpq_ann_q142shape": ivfpq_op,
        "streaming_score_q141shape": stream_score_op,
        "bigram_nll_q143shape": bigram_op,
        "tfidf_pairs_q144shape": tfidf_pairs_op,
        "relative_filter_q145shape": relative_filter_op,
        "canonical_dedup_q146shape": canonical_dedup_op,
        "jl_recall_q147shape": jl_recall_op,
        "ivfpq_append_q151shape": ivfpq_append_op,
        "ivfpq_recall_q150shape": ivfpq_recall_op,
        "gapfill_q148shape": gapfill_op,
        "class_tfidf_q149shape": class_tfidf_op,
        "image_dup_q152shape": image_dup_op,
        # the 128-bit lane: stricter distance scale (6x fewer chance
        # pairs at 100x) and wider band buckets — see BASELINE.md r11
        # for the degeneracy-vs-width melt analysis
        "image_dup128": lambda sf: image_dup_op(sf, kind="dhash128"),
    }
    wanted = None
    for arg in sys.argv[1:]:
        if arg.startswith("--ops"):
            wanted = arg.split("=", 1)[-1].split(",") if "=" in arg else None
    if wanted is None and "--ops" in sys.argv:
        wanted = sys.argv[sys.argv.index("--ops") + 1].split(",")

    for name, mk in ops.items():
        if wanted and not any(w in name for w in wanted):
            continue
        for label, sf in (("1x", SF_DIR), (f"{mult}x", out_dir)):
            cold, warm, rows = timed(mk(sf))
            print(json.dumps({"op": name, "scale": label, "cold_s": cold,
                              "warm_s": warm, "rows": rows}), flush=True)
            # Session hygiene between measurements: operators persist
            # intermediates for their own multi-pass plans and hand the
            # caller an un-materialized result, so the frames stay
            # pinned after the op returns. Across 11 ops x 2 scales in
            # ONE session the leftovers fragment the heap until a large
            # broadcast allocation fails (observed: GCLocker retry on a
            # 1 GiB contiguous alloc killed the JVM mid-suite).
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
