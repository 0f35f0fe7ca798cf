"""Approximate-aggregate contracts: error bounds vs exact answers,
exactness of GK quantiles when n <= accuracy, and sketch mergeability
(the property that makes them shuffle-light at scale: per-partition
sketches union to the same estimate as one global pass)."""

import pyspark.sql.functions as F
import pytest

from relationalize_spark.queries import REGISTRY
from relationalize_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sketch_rows(spark):
    df = REGISTRY["q94_approx_sketches"][0](spark, SF)
    return {r["source"]: r for r in df.collect()}


def test_hll_estimates_within_error_bounds(sketch_rows):
    assert sketch_rows
    for src, r in sketch_rows.items():
        exact = r["exact_uniq_text"]
        # approx_count_distinct at rsd=0.02: allow 5 sigma
        assert abs(r["hllpp_uniq_text"] - exact) <= max(2, 0.10 * exact), (src, r)
        # DataSketches HLL at lgK=14 is ~0.8% rsd; same generous bound
        assert abs(r["datasketches_uniq_text"] - exact) <= max(2, 0.10 * exact), (
            src,
            r,
        )


def test_gk_quantiles_exact_when_accuracy_exceeds_n(spark, sketch_rows):
    """percentile_approx's GK sketch guarantees rank error <= n/accuracy,
    so with accuracy 10000 and per-source n in the hundreds the result
    must equal the exact discrete percentile (smallest value at rank
    >= ceil(p*n))."""
    d = load_table(spark, SF, "documents")
    per_src = {
        r["source"]: sorted(x["n_chars"] for x in r["vals"])
        for r in d.groupBy("source")
        .agg(F.collect_list(F.struct("n_chars")).alias("vals"))
        .collect()
    }
    for src, vals in per_src.items():
        n = len(vals)
        for p, col in ((0.5, "p50_chars"), (0.9, "p90_chars")):
            import math

            exact = vals[max(0, math.ceil(p * n) - 1)]
            assert sketch_rows[src][col] == exact, (src, col, n)


def test_hll_sketch_merge_matches_single_pass(spark):
    """Partial-aggregate path: per-partition sketches merged with
    hll_union_agg give the same estimate as one global sketch — the
    contract Spark's partial aggregation relies on, and the reason the
    shuffle carries KBs not rows at 100 TB."""
    d = load_table(spark, SF, "documents").repartition(7, "doc_id")
    merged = (
        d.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.hll_sketch_agg("text", 14).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk", True)).alias("est"))
        .collect()[0]["est"]
    )
    single = d.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("text", 14)).alias("est")
    ).collect()[0]["est"]
    assert merged == single


def test_count_min_sketch_overcounts_only(spark):
    """CMS frequency estimates are biased high, never low — the usable
    direction for heavy-hitter screens (no false negatives)."""
    d = load_table(spark, SF, "documents")
    cms = d.agg(
        F.count_min_sketch(
            "lang", F.lit(0.01), F.lit(0.95), F.lit(42)
        ).alias("sk")
    ).collect()[0]["sk"]
    exact = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert isinstance(cms, (bytes, bytearray)) and len(cms) > 0
    # probe the serialized sketch via the JVM-side estimator
    jvm = spark.sparkContext._jvm
    sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(cms))
    for lang, n in exact.items():
        assert sk.estimateCount(lang) >= n, (lang, n)


def test_regression_stats_match_builtin_corr(spark):
    """The decimal-derived Pearson r (q98) agrees with Spark's builtin
    double-accumulating corr to 1e-9 — same statistic, but the derived
    form is bit-deterministic across partitionings."""
    from relationalize_spark.queries import REGISTRY

    derived = {
        r["l_returnflag"]: (r["pearson_r"], r["slope"])
        for r in REGISTRY["q98_regression_stats"][0](spark, SF).collect()
    }
    l = load_table(spark, SF, "lineitem")
    builtin = {
        r["l_returnflag"]: (r["c"], r["s"])
        for r in l.groupBy("l_returnflag")
        .agg(
            F.corr("l_quantity", "l_extendedprice").alias("c"),
            F.regr_slope("l_extendedprice", "l_quantity").alias("s"),
        )
        .collect()
    }
    assert set(derived) == set(builtin)
    # q98 floors onto the 1e-6 lattice for cross-engine bit-parity
    # (r10: floor, never round), so the derived value sits up to one
    # full quantum below the unquantized builtin
    for k in derived:
        assert abs(derived[k][0] - builtin[k][0]) < 2e-6, k
        assert abs(derived[k][1] - builtin[k][1]) < 2e-6, k


# -- KMV (r5): the engine-replayable sketch ---------------------------------

def test_kmv_exact_below_k(spark):
    from relationalize_spark.operators.sketches import kmv_sketch

    df = spark.createDataFrame(
        [("a", f"v{i % 5}") for i in range(50)] + [("a", None)],
        "g string, v string",
    )
    row = kmv_sketch(df, ["g"], "v", k=64).first()
    assert row.kmv_n_distinct == 5
    assert row.kmv_estimate == 5.0          # exact below k
    assert len(row.kmv_minima) == 5
    assert list(row.kmv_minima) == sorted(row.kmv_minima)


def test_kmv_error_bound_above_k(spark):
    """Relative error ~ 1/sqrt(k-2): with k=64 that's ~12.7%; allow
    3x slack on one fixed corpus draw (md5 is the 'randomness')."""
    from relationalize_spark.operators.sketches import kmv_sketch

    n = 5000
    df = spark.createDataFrame(
        [("a", f"value-{i}") for i in range(n)], "g string, v string"
    )
    row = kmv_sketch(df, ["g"], "v", k=64).first()
    assert row.kmv_n_distinct == 64
    assert abs(row.kmv_estimate - n) / n < 0.38


def test_kmv_merge_equals_union(spark):
    """Shard sketches merge to EXACTLY the union's sketch — the
    property that lets shards build independently at 100 TB."""
    from relationalize_spark.operators.sketches import kmv_merge, kmv_sketch

    rows_a = [("g1", f"a{i}") for i in range(300)]
    rows_b = [("g1", f"b{i}") for i in range(300)] + rows_a[:100]  # overlap
    a = spark.createDataFrame(rows_a, "g string, v string")
    b = spark.createDataFrame(rows_b, "g string, v string")
    union = spark.createDataFrame(rows_a + rows_b, "g string, v string")

    sk = kmv_sketch(a, ["g"], "v", k=32).unionByName(
        kmv_sketch(b, ["g"], "v", k=32)
    )
    merged = kmv_merge(sk, ["g"], k=32).first()
    direct = kmv_sketch(union, ["g"], "v", k=32).first()
    assert list(merged.kmv_minima) == list(direct.kmv_minima)
    assert merged.kmv_estimate == direct.kmv_estimate


def test_kmv_deterministic_across_partitionings(spark):
    from relationalize_spark.operators.sketches import kmv_sketch

    df = spark.createDataFrame(
        [(f"g{i % 3}", f"v{i}") for i in range(2000)], "g string, v string"
    )
    a = {r.g: (list(r.kmv_minima), r.kmv_estimate)
         for r in kmv_sketch(df, ["g"], "v", k=16).collect()}
    b = {r.g: (list(r.kmv_minima), r.kmv_estimate)
         for r in kmv_sketch(df.repartition(13), ["g"], "v", k=16).collect()}
    assert a == b


def test_kmv_salted_topk_equals_global(spark):
    """Stage-A bucketing is exact: n_salts=1 (single global window)
    and the default salted form produce identical sketches."""
    from relationalize_spark.operators.sketches import kmv_sketch

    df = spark.createDataFrame(
        [(f"g{i % 2}", f"v{i}") for i in range(3000)], "g string, v string"
    )
    a = {r.g: (list(r.kmv_minima), r.kmv_estimate)
         for r in kmv_sketch(df, ["g"], "v", k=32, n_salts=1).collect()}
    b = {r.g: (list(r.kmv_minima), r.kmv_estimate)
         for r in kmv_sketch(df, ["g"], "v", k=32, n_salts=64).collect()}
    assert a == b


def _pair_stats(spark, a_vals, b_vals, k):
    """kmv_pairwise's one (a, b) row for two groups holding a_vals and
    b_vals."""
    from relationalize_spark.operators.sketches import kmv_pairwise, kmv_sketch

    df = spark.createDataFrame(
        [("a", v) for v in a_vals] + [("b", v) for v in b_vals],
        "g string, v string",
    )
    return kmv_pairwise(kmv_sketch(df, ["g"], "v", k=k), "g", k=k).first()


def test_kmv_pairwise_exact_below_k(spark):
    """Both sketches exhaustive -> jaccard/union/intersection are
    exactly the true set values."""
    row = _pair_stats(
        spark, [f"v{i}" for i in range(20)], [f"v{i}" for i in range(10, 40)], 64
    )
    # |A|=20, |B|=30, inter=10, union=40
    assert row.union_est == 40.0
    assert row.intersection_est == 10.0
    assert abs(row.jaccard_est - 10 / 40) < 1e-9


def test_kmv_pairwise_exact_when_union_exceeds_k(spark):
    """ADVICE r5 (medium): both sketches exhaustive (na,nb < k) but
    |A∪B| > k — the exact branch must count the intersection over the
    FULL merged union, not its first-k slice, or members ranked past k
    are missed and jaccard/intersection understate the true values."""
    # |A|=60, |B|=60, overlap 40 -> union 80 > k while both sides < k;
    # ~16 of the 40 shared hashes rank past k in the merged order, so
    # the pre-fix slice formula loses them almost surely.
    row = _pair_stats(
        spark, [f"v{i}" for i in range(60)], [f"v{i}" for i in range(20, 80)], 64
    )
    assert row.union_est == 80.0
    assert abs(row.jaccard_est - 40 / 80) < 1e-6
    assert abs(row.intersection_est - 40.0) < 1e-3


def test_kmv_pairwise_estimates_above_k(spark):
    """Known 50% overlap at 4000-distinct scale: estimates land within
    the sketch's error envelope (k=128 -> ~9% relative, 3x slack)."""
    n = 4000
    row = _pair_stats(
        spark,
        [f"v{i}" for i in range(n)],
        [f"v{i}" for i in range(n // 2, n + n // 2)],
        128,
    )
    true_union, true_jac = n + n // 2, (n // 2) / (n + n // 2)
    assert abs(row.union_est - true_union) / true_union < 0.27
    assert abs(row.jaccard_est - true_jac) / true_jac < 0.35
    assert abs(row.intersection_est - n // 2) / (n // 2) < 0.45


def test_kmv_pairwise_cardinality_guard(spark):
    """VERDICT r5: the a<b pairing is quadratic over groups; a
    high-cardinality group_col (e.g. per-document sketches) must fail
    loudly at execution, not launch an S^2 nested loop."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from relationalize_spark.operators.sketches import kmv_pairwise, kmv_sketch

    df = spark.createDataFrame(
        [(f"g{i}", f"v{i % 7}") for i in range(40)], "g string, v string"
    )
    sk = kmv_sketch(df, ["g"], "v", k=8)
    with pytest.raises(SparkRuntimeException, match="max_groups"):
        kmv_pairwise(sk, "g", k=8, max_groups=10).count()
    # explicit opt-up (or None) proceeds
    assert kmv_pairwise(sk, "g", k=8, max_groups=40).count() == 40 * 39 // 2
    assert kmv_pairwise(sk, "g", k=8, max_groups=None).count() == 40 * 39 // 2


def test_kmv_pairwise_pairs_and_symmetry(spark):
    from relationalize_spark.operators.sketches import kmv_pairwise, kmv_sketch

    df = spark.createDataFrame(
        [(g, f"{'shared' if i % 2 else g}-{i}") for g in ("x", "y", "z")
         for i in range(50)],
        "g string, v string",
    )
    sk = kmv_sketch(df, ["g"], "v", k=64)
    pairs = {(r.a, r.b): r.jaccard_est for r in kmv_pairwise(sk, "g", k=64).collect()}
    assert set(pairs) == {("x", "y"), ("x", "z"), ("y", "z")}
    # the shared-* values are per-group distinct ("shared-1" etc. equal
    # across groups) -> every pair overlaps identically
    assert len(set(pairs.values())) == 1 and all(v > 0 for v in pairs.values())
