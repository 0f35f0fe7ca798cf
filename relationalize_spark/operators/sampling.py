"""Deterministic sampling and dataset splitting.

Training-data pipelines need splits and samples that are (a) stable
across reruns and cluster sizes, (b) reproducible from the row's own
identity, and (c) cheap — a projection, not a shuffle. Spark's
``df.sample``/``randomSplit`` give none of these (they seed per
partition, so adding an executor reassigns rows). Everything here
derives the decision from a multiplicative hash of the row's id, so
the same row lands in the same split on any cluster, any day, and the
filter pushes down to the scan like any other predicate.

The hash is Knuth's multiplicative scheme (id+seed times 2654435761,
the golden-ratio constant, mod 2^32) rather than ``xxhash64`` so the
exact same arithmetic is expressible in any SQL engine — the
correctness oracles replay it verbatim in DuckDB. For adversarial
inputs (ids chosen to collide) swap in ``F.xxhash64``; for organic
ids the multiplicative mix is unbiased in the low bits we use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Knuth's multiplicative constant: 2^32 / golden ratio, odd.
_KNUTH = 2654435761
_M32 = 2**32


def hash_bucket(id_col: Column | str, buckets: int = 100, seed: int = 0) -> Column:
    """Deterministic bucket in [0, buckets) from an integer id.

    All arithmetic stays under 2^63 for ids up to ~3.4e9 even in
    ANSI mode (no overflow-wrap to rely on); for wider id spaces,
    pre-fold the id with ``pmod(id, 2**31)``.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        F.pmod((c + F.lit(seed)) * F.lit(_KNUTH), F.lit(_M32)), F.lit(buckets)
    )


def hash_split(
    df: DataFrame,
    splits: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Add a split label column ("train"/"val"/"test"/...) assigning
    each row by its id hash; fractions must sum to 1.0 (2-decimal
    granularity). Pure projection — no shuffle, no state, and the
    assignment never changes when the data is repartitioned, appended
    to, or re-read.
    """
    total = round(sum(splits.values()), 9)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1.0, got {total}")
    bucket = hash_bucket(id_col, 100, seed)
    expr: Column | None = None
    lo = 0.0
    for name, frac in splits.items():
        hi = lo + frac * 100
        cond = bucket < F.lit(int(round(hi)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    # chained when(): the first matching upper bound wins, so each row
    # falls in exactly one half-open bucket range.
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Keep ~fraction of rows, chosen deterministically by id hash
    (2-decimal granularity). The filter is an ordinary pushed-down
    predicate: at 100 TB this reads and discards at scan speed with
    zero shuffle. Per-stratum rates stay equal because the hash is
    independent of any data column — to OVERsample a stratum, union
    two calls with different fractions filtered per stratum.
    """
    return df.filter(hash_bucket(id_col, 100, seed) < int(round(fraction * 100)))


def group_quota_sample(
    df: DataFrame,
    group_col: str,
    quota: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Exactly min(quota, group size) rows per group, chosen
    deterministically by id hash — per-language / per-source caps for
    corpus balancing, where :func:`stratified_sample`'s equal *rates*
    are the wrong tool (a 100x bigger source should not keep 100x
    more rows).

    One shuffle on ``group_col``; within each group a rank over the
    id hash picks the winners, so membership is stable under
    repartitioning and appends never evict previously chosen rows
    ranked above them. Skewed groups are the window's partition —
    for a group holding most of the corpus, pre-filter with
    ``stratified_sample`` to an overshoot rate first, then apply the
    exact quota to the survivors.
    """
    from pyspark.sql import Window

    c = F.col(id_col)
    h = F.pmod((c + F.lit(seed)) * F.lit(_KNUTH), F.lit(_M32))
    w = Window.partitionBy(group_col).orderBy(h.asc(), c.asc())
    return (
        df.withColumn("__rank__", F.row_number().over(w))
        .filter(F.col("__rank__") <= quota)
        .drop("__rank__")
    )


def weighted_quota_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, ``k`` rows per group:
    Efraimidis-Spirakis A-Res — each row draws priority
    ``u^(1/w)`` from a uniform ``u`` and the top-k priorities win,
    which yields exactly the successive weighted-without-replacement
    distribution. Here ``u`` derives from the row id's Knuth hash, so
    the "random" draw is reproducible on any cluster shape and the
    DuckDB oracle replays it bit-for-bit.

    The priority FLOORS onto a 1e-9 BIGINT lattice before ranking
    (ties broken by id): ``u`` is exact (integer hash over a
    power-of-two denominator) but ``pow`` is transcendental, so the
    repo's floor discipline applies — floor (never round: round
    semantics themselves diverge between engines, r9 q143) onto a
    lattice coarse enough that a 1-ulp ``pow`` divergence flips a
    boundary with only ~1e-7 probability per draw (the documented
    residual band; the prior 1e-12 round left a ~1e-4 window).
    Quantization ties fall to the id order — deterministic, and a
    distortion only when two priorities agree within 1e-9. That tie
    regime is SYSTEMATIC for very large weights, not just rare bad
    luck: ``u^(1/w) ~ 1 + ln(u)/w`` as ``w`` grows, so a group's
    priorities spread over only ~``1/w`` of the unit interval —
    about ``1e9/w`` distinct lattice levels — and once ``w >~ 1e9/n``
    for group size ``n`` (w ~ 1e8 at n ~ 10) most rows saturate at
    999999999 and ranking degrades toward ascending-id order rather
    than weight-proportional sampling (pinned by
    ``test_weighted_quota_sample_large_weight_saturation``). Rescale
    weights into a moderate band (weighted sampling is scale-free:
    dividing every weight in a group by a constant leaves the E-S
    distribution unchanged) before calling with ``max(w) >> 1e6``.
    The alternative — flooring the log-priority ``ln(u)/w`` — moves
    the same ~1e9/w-level ceiling to the log scale (log-priorities
    cluster in ``(-~23/w, 0)``) while losing the bounded-range
    lattice that makes tiny weights safe (``ln(u)/w`` overflows any
    fixed lattice as ``w -> 0`` where ``u^(1/w)`` just floors to 0),
    so the bounded form + the documented rescale is the deliberate
    choice. Rows with weight <= 0 get priority -1: never sampled
    while any positive-weight row remains (ANSI mode forbids the 1/0
    the textbook formula would hit).

    One shuffle on ``group_col``; same skew guidance as
    :func:`group_quota_sample`.
    """
    from pyspark.sql import Window

    c = F.col(id_col)
    h = F.pmod((c + F.lit(seed)) * F.lit(_KNUTH), F.lit(_M32))
    u = (h + F.lit(0.5)) / F.lit(float(_M32))
    wt = F.col(weight_col).cast("double")
    priority = F.when(
        wt > 0, F.floor(F.pow(u, F.lit(1.0) / wt) * F.lit(1e9)).cast("long")
    ).otherwise(F.lit(-1).cast("long"))
    w = Window.partitionBy(group_col).orderBy(priority.desc(), c.asc())
    return (
        df.withColumn("__rank__", F.row_number().over(w))
        .filter(F.col("__rank__") <= k)
        .drop("__rank__")
    )


def mix_sources(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default: float = 0.0,
    seed: int = 0,
    replica_col: str | None = None,
) -> DataFrame:
    """Weighted dataset mixing: keep each row with probability
    ``weights[source]`` (deterministic by id hash), the standard way a
    training corpus re-balances heterogeneous sources (downsample the
    crawl, upsample the books). Weights above 1.0 REPLICATE: a row
    with weight 2.3 appears twice always plus a third time for the
    30% of ids whose hash falls under the fraction. Replication is a
    generator expression (``explode(sequence(...))``) — a projection,
    no shuffle, no RNG state — so the mix is reproducible row-for-row
    on any cluster shape. Pass ``replica_col`` to expose the 0-based
    replica index (training loaders use it to vary shuffling salt per
    epoch-copy of the same document).

    With all weights <= 1.0 the plan is a pure pushed-down filter at
    scan speed; only weights > 1.0 introduce the row-generating
    projection (still no shuffle).
    """
    bucket = hash_bucket(id_col, 100, seed)
    reps: Column | None = None
    for name, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for {name!r}: {w}")
        whole, frac_pct = int(w), int(round((w - int(w)) * 100))
        n = F.lit(whole) + (bucket < F.lit(frac_pct)).cast("int")
        cond = F.col(source_col) == name
        reps = F.when(cond, n) if reps is None else reps.when(cond, n)
    d_whole, d_frac = int(default), int(round((default - int(default)) * 100))
    d_n = F.lit(d_whole) + (bucket < F.lit(d_frac)).cast("int")
    reps = d_n if reps is None else reps.otherwise(d_n)

    if all(w <= 1.0 for w in weights.values()) and default <= 1.0:
        return df.filter(reps >= 1)
    # filter BEFORE explode: sequence(1, 0) would descend ([1, 0]) and
    # resurrect weight-0 rows.
    out = df.filter(reps >= 1).withColumn(
        "__replica__", F.explode(F.sequence(F.lit(1), reps))
    )
    if replica_col is not None:
        return out.withColumn(replica_col, F.col("__replica__") - 1).drop(
            "__replica__"
        )
    return out.drop("__replica__")


#: Column-metadata key marking a pct_rank produced by
#: group_relative_filter (the re-threshold path's ownership check).
_PCT_RANK_TAG = "relationalize_spark.group_relative_filter"


def group_relative_filter(
    df: DataFrame,
    score: Column,
    group_cols: list[str],
    keep_frac: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group relative thresholding: keep the top ``keep_frac`` of
    each group by ``score`` — the "filter the worst X% of EVERY
    domain" curation step. An absolute score cutoff biases the mix
    (whole domains score systematically low and vanish); ranking
    WITHIN the group preserves the domain mixture while dropping each
    domain's own tail (the per-domain relative variant of the
    quality-classifier filtering in Brown et al., GPT-3 appendix A).

    Exact rank semantics: ``percent_rank() OVER (PARTITION BY
    group_cols ORDER BY score DESC, id)`` — ties broken by id so the
    kept set is unique and engine-replayable; a singleton group ranks
    0 and is kept (both Spark and DuckDB define percent_rank as
    ``(rank - 1) / (n - 1)`` with 0 for n = 1). Rows with
    ``percent_rank <= keep_frac`` survive. The returned frame carries
    ``pct_rank`` so downstream stages can re-threshold without
    re-sorting. The output ``pct_rank`` is tagged with column
    metadata; re-filtering a frame THIS operator produced silently
    regenerates it (the documented re-threshold path), while an
    unrelated caller-owned ``pct_rank`` data column raises instead
    of being destroyed (r9 ADVICE) — rename or drop it explicitly.
    Caveat: formats that strip column metadata (JSON/CSV round
    trips, ``createDataFrame`` from collected rows — parquet
    preserves it) lose the tag, so a re-threshold across such a
    boundary also raises; the error is a safe false positive — drop
    the column and re-filter.

    Scale shape: ONE shuffle on the group key + a per-group sort —
    linear, no joins; skew is bounded by the largest single group
    (for 100 TB single-domain corpora, pre-aggregate a per-group
    threshold from a GK quantile sketch — operators/sketches.py — and
    semi-join it instead of ranking every row; rank-based is the
    exact-semantics default).
    """
    from pyspark.sql import Window

    if "__score__" in df.columns:
        raise ValueError(
            "group_relative_filter reserves the column name '__score__'"
        )
    if "pct_rank" in df.columns:
        # A pct_rank TAGGED by this operator marks the documented
        # re-threshold path: drop the stale rank and regenerate. An
        # untagged pct_rank is the caller's own data — destroying it
        # silently is how a pipeline loses a column (r9 ADVICE).
        if df.schema["pct_rank"].metadata.get(_PCT_RANK_TAG):
            df = df.drop("pct_rank")
        else:
            raise ValueError(
                "input already has a 'pct_rank' column that this "
                "operator did not produce (or whose ownership tag "
                "was stripped by a metadata-less round trip, e.g. "
                "JSON/CSV); rename or drop it before calling "
                "group_relative_filter"
            )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("__score__").desc(), F.col(id_col)
    )
    return (
        df.select("*", score.alias("__score__"))
        .withColumn(
            "pct_rank",
            F.percent_rank().over(w).alias(
                "pct_rank", metadata={_PCT_RANK_TAG: True}
            ),
        )
        .where(F.col("pct_rank") <= F.lit(keep_frac))
        .drop("__score__")
    )
