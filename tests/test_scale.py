"""Scale utilities: salted aggregates/joins match their plain
equivalents; bucketed joins run without a shuffle exchange."""

import pyspark.sql.functions as F
import pytest

from relationalize_spark.plans.scale import (
    replicated_skew_join,
    salted_count_distinct,
    write_bucketed,
)


#: slow lane (r10, r8 verdict item 7): exclude with -m "not slow" for
#: the fast mid-round loop; the full suite stays the end-of-round gate.
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90%) + long tail
    hot = spark.range(900).select(
        F.lit("hot").alias("k"), (F.col("id") % 100).alias("v")
    )
    tail = spark.range(100).select(
        F.concat(F.lit("t"), F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    return hot.union(tail)


def test_salted_count_distinct_matches_exact(spark, skewed):
    exact = {
        r.k: r.n
        for r in skewed.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    salted = {
        r.k: r.n_distinct_v for r in salted_count_distinct(skewed, "k", "v").collect()
    }
    assert salted == exact


def test_replicated_skew_join_matches_plain(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", "H"), ("t1", "T1"), ("t3", "T3")], "k string, label string"
    )
    plain = sorted(
        (r.k, r.v, r.label) for r in skewed.join(dim, "k").collect()
    )
    salted = sorted(
        (r.k, r.v, r.label)
        for r in replicated_skew_join(skewed, dim, "k", replicas=4).collect()
    )
    assert salted == plain


def test_replicated_skew_join_rejects_right_outer(spark, skewed):
    dim = spark.createDataFrame([("hot", "H")], "k string, label string")
    with pytest.raises(ValueError, match="right/full outer"):
        replicated_skew_join(skewed, dim, "k", replicas=4, how="right")
    # left-preserving flavors still work
    n = replicated_skew_join(skewed, dim, "k", replicas=4, how="left_semi").count()
    assert n == 900


def test_documents_bucketed_pipeline_join_no_exchange(spark):
    """The training-data pipeline's final layout: curated documents and
    embeddings co-bucketed on doc_id join with zero shuffle exchange."""
    import pyspark.sql.functions as F

    from relationalize_spark.sources.tables import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").withColumnRenamed(
            "vec_id", "doc_id"
        )
        write_bucketed(docs, "t_curated", ["doc_id"], num_buckets=8, sort_cols=["doc_id"])
        write_bucketed(emb, "t_emb", ["doc_id"], num_buckets=8, sort_cols=["doc_id"])
        joined = spark.table("t_curated").join(spark.table("t_emb"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and a per-document aggregation over the bucket key is also
        # exchange-free
        agg = spark.table("t_curated").groupBy("doc_id").agg(F.count(F.lit(1)))
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan, agg_plan
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "128m")
        spark.sql("DROP TABLE IF EXISTS t_curated")
        spark.sql("DROP TABLE IF EXISTS t_emb")


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("x")
        )
        b = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("y")
        )
        write_bucketed(a, "bkt_a", ["k"], num_buckets=8, sort_cols=["k"])
        write_bucketed(b, "bkt_b", ["k"], num_buckets=8, sort_cols=["k"])
        ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
        joined = ta.join(tb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "128m")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_new_ops_plan_shapes(spark):
    """Scale-shape regression guards for the round-2 operators:
    contamination and incremental dedup never produce a cartesian or
    nested-loop pair space over the two document sets; k-means
    assignment is a scan-fused projection (no shuffle); q66's nested
    aggregation reads lineitem exactly once."""
    import pyspark.sql.functions as F

    from relationalize_spark.operators.clustering import assign_clusters
    from relationalize_spark.operators.dedup import (
        minhash_incremental_pairs,
        ngram_overlap_pairs,
    )
    from relationalize_spark.queries import REGISTRY
    from relationalize_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")
    corpus, ev = d.filter("doc_id % 10 != 0"), d.filter("doc_id % 10 = 0")

    for df in (
        ngram_overlap_pairs(corpus, ev, min_overlap=0.3),
        minhash_incremental_pairs(corpus, ev, threshold=0.8),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    e = load_table(spark, sf, "embeddings")
    assigned = assign_clusters(e, [[0.0] * 64, [1.0] * 64], "embedding")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    q66 = REGISTRY["q66_dominant_suppliers"][0](spark, sf)
    plan = q66._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1, plan


def test_filter_and_projection_pushdown(spark):
    """Selective scans must reach the parquet reader: the date filter
    appears in PushedFilters and the read schema is pruned to the
    referenced columns only."""
    from relationalize_spark.queries import REGISTRY

    q06 = REGISTRY["q06_revenue_delta"][0](spark, "/root/testdata/sf0.001")
    plan = q06._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThan" in plan, plan
    scan_line = next(l for l in plan.splitlines() if "Scan parquet" in l)
    # projection pruning: the wide lineitem table is read as a narrow
    # schema (only the columns q06 touches), not all 11 columns
    assert "l_comment" not in scan_line
    for needed in ("l_extendedprice", "l_discount", "l_shipdate"):
        assert needed in plan, plan


def test_runtime_bloom_filter_join_pruning(spark):
    """With a selective dimension side, the optimizer injects a Bloom
    filter of the dimension's join keys into the fact scan (visible as
    bloom_filter_agg / might_contain in the plan), so non-matching fact
    rows are dropped at the source instead of riding the shuffle. The
    production thresholds (10 GB application side) are lowered here to
    make the injection observable at test scale."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(100_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("tag"))
        joined = fact.join(dim.filter(F.col("tag") == 3), "k")
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in optimized or "might_contain" in optimized, optimized
        # semantics unchanged: every surviving key has tag == 3
        assert joined.count() == 14300  # 143 dim keys x 100 fact rows each
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """With one key owning ~90% of rows, AQE's skew-join rewrites the
    sort-merge join to split the oversized partition (visible as
    skew=true in the final plan). Production thresholds are 256MB;
    lowered here so the split is observable at test scale."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.concat(F.lit("t"), F.col("id") % 97))
            .alias("k"),
            F.col("id").alias("v"),
        )
        other = spark.range(98).select(
            F.when(F.col("id") == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("t"), F.col("id") % 97))
            .alias("k"),
            F.col("id").alias("w"),
        )  # ids 0..97 map to 98 distinct keys by construction
        joined = big.join(other, "k")
        # execute THIS DataFrame's own QueryExecution (a .count() would
        # plan a separate query and leave this one isFinalPlan=false)
        n = len(joined.toPandas())
        assert n == 200_000
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
