"""Deterministic corpus sampling and mixing.

Training-data pipelines need REPRODUCIBLE subsetting: the same doc must
land in the same sample regardless of partitioning, cluster size, or
run date (Spark's df.sample is seed-stable only per partitioning).
Everything here keys on a content/id hash, so membership is a pure
function of the row - re-runs, backfills, and two clusters of
different sizes agree row-for-row.

Hash families (the repo-wide pattern, see operators/dedup):
  - "xxh64": JVM xxhash64, fastest, the production default;
  - "md5": the SQL-replayable twin (DuckDB replays the exact draw via
    ('0x' || substr(md5(s), 1, 16))::UBIGINT - the driver oracle runs
    the whole sampler from scratch).

The draw: u = hash(key ':' seed) & (2^63 - 1), uniform on [0, 2^63);
keep iff u < floor(fraction * 2^63). Thresholds are computed ONCE in
python (`threshold_u63`) and embedded as literals on both the Spark
and oracle sides, so engine float rounding can never disagree.

Scale notes: all samplers are row-local filters/projections - no
shuffle, no UDF, full whole-stage codegen; they compose with pushdown
(the filter reaches the scan when the key column is stored).
Upsampling (mix rate > 1) explodes an epoch sequence - output size is
sum(rate_s * |stratum_s|), never a join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geeflow_spark.operators.dedup import _md5_64

_U63_MASK = (1 << 63) - 1


def threshold_u63(fraction: float) -> int:
    """floor(fraction * 2^63), clamped to [0, 2^63]. The integer both
    engines compare against - compute once, embed as a literal."""
    return max(0, min(1 << 63, int(fraction * (1 << 63))))


def _draw_u63(key: Column, seed: int, hash_family: str) -> Column:
    """Uniform draw on [0, 2^63) as a signed long, as a pure-JVM
    column expression. The key is rendered as string(key) ':' seed so
    any atomic key type works and md5 stays cross-engine."""
    s = F.concat(key.cast("string"), F.lit(f":{seed}"))
    if hash_family == "md5":
        h = _md5_64(s)
    elif hash_family == "xxh64":
        h = F.xxhash64(s)
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return h.bitwiseAND(F.lit(_U63_MASK))


def hash_sample(df: DataFrame, fraction: float, key_col: str = "doc_id",
                seed: int = 0, hash_family: str = "xxh64") -> DataFrame:
    """Deterministic `fraction` sample of df, keyed on `key_col`.

    Membership is a pure function of (key, seed): stable across runs,
    partitionings, and cluster sizes. Disjoint samples: different
    seeds. Nested samples (a 1% that is a subset of the 10%): same
    seed, smaller fraction."""
    t = threshold_u63(fraction)
    # draw <= t-1 instead of draw < t: t can be 2^63 (fraction 1.0),
    # which overflows the signed-long literal py4j can pass; t-1
    # always fits and the draws are integral, so the predicates are
    # identical. t=0 gives <= -1: drops every row, as it must.
    return df.filter(_draw_u63(F.col(key_col), seed, hash_family)
                     <= F.lit(t - 1))


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      strata_col: str, key_col: str = "doc_id",
                      default_fraction: float = 0.0, seed: int = 0,
                      hash_family: str = "xxh64") -> DataFrame:
    """Per-stratum deterministic sampling: keep each row of stratum s
    with probability fractions[s] (strata absent from the dict use
    `default_fraction`; 0.0 drops them).

    The per-stratum threshold is a literal when-chain (codegen'd,
    row-local - no join against a fractions table, no shuffle), which
    is the right shape for the tens-of-strata case (languages,
    sources). The draw is salted with the stratum value so the same
    doc id draws independently per stratum."""
    draw = _draw_u63(
        F.concat(F.col(strata_col), F.lit("|"),
                 F.col(key_col).cast("string")), seed, hash_family)
    # thresholds ride as t-1 literals (see hash_sample: t=2^63
    # overflows py4j's signed long; draw <= t-1 is the same predicate)
    thr: Column = F.lit(threshold_u63(default_fraction) - 1)
    for s, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == s,
                     F.lit(threshold_u63(frac) - 1)).otherwise(thr)
    return df.filter(draw <= thr)


def mix_corpus(df: DataFrame, rates: dict[str, float],
               strata_col: str = "source", key_col: str = "doc_id",
               default_rate: float = 1.0, seed: int = 0,
               hash_family: str = "xxh64",
               epoch_col: str = "epoch") -> DataFrame:
    """Rate-based corpus mixing over one table's `strata_col`: each
    row of stratum s appears floor(rates[s]) + Bernoulli(frac(rates[s]))
    times, tagged 0..k-1 in `epoch_col` - the standard training-mix
    primitive (e.g. {"wikipedia": 3.0, "web": 0.3}: three epochs of
    wikipedia, a 30% sample of web).

    Downsampling (rate < 1) is exactly stratified_sample + epoch 0.
    Upsampling emits DETERMINISTIC copies: the fractional extra copy
    is the same per-(stratum, key) draw the samplers use, so two runs
    (or two cluster sizes) produce identical multisets. Row-local
    explode - no join, no shuffle; output rows = sum(rate_s * n_s)."""
    draw = _draw_u63(
        F.concat(F.col(strata_col), F.lit("|"),
                 F.col(key_col).cast("string")), seed, hash_family)
    whole: Column = F.lit(int(default_rate))
    thr: Column = F.lit(
        threshold_u63(default_rate - int(default_rate)) - 1)
    for s, rate in sorted(rates.items()):
        if rate < 0:
            raise ValueError(f"negative rate for stratum {s!r}: {rate}")
        whole = F.when(F.col(strata_col) == s,
                       F.lit(int(rate))).otherwise(whole)
        thr = F.when(
            F.col(strata_col) == s,
            F.lit(threshold_u63(rate - int(rate)) - 1)).otherwise(thr)
    copies = whole + (draw <= thr).cast("int")
    return (df.withColumn("_copies", copies)
            .filter(F.col("_copies") > 0)
            .withColumn(epoch_col,
                        F.explode(F.sequence(
                            F.lit(0), F.col("_copies") - 1)))
            .drop("_copies"))


def bucket_offsets(per_bucket: DataFrame, bucket_col: str,
                   val_col: str, out_col: str = "_off") -> DataFrame:
    """(bucket, exclusive cumulative sum of val over bucket order) -
    the shared offsets stage of the bucketed global-order machinery
    (shuffle_rank's COUNT form, pack_sequences' SUM form). The window
    runs over the already-aggregated per-bucket frame - at most
    n_buckets rows, single-partition by construction and bounded by
    construction; callers broadcast the result back."""
    w = Window.orderBy(bucket_col) \
        .rowsBetween(Window.unboundedPreceding, -1)
    return per_bucket.select(
        bucket_col,
        F.coalesce(F.sum(val_col).over(w), F.lit(0)).alias(out_col))


def shuffle_rank(df: DataFrame, key_col: str = "doc_id", seed: int = 0,
                 hash_family: str = "xxh64", out_col: str = "rank",
                 n_buckets: int = 1024) -> DataFrame:
    """Deterministic global shuffle order: adds a dense 0-based
    `out_col` that is the row's position in (hash(key, seed), key)
    order - the reproducible corpus permutation training exports need
    (same order on any cluster size; a different seed is a fresh
    permutation).

    A naive global row_number() (Window with no partitionBy) funnels
    the corpus through ONE partition. This computes the same rank
    scalably: the draw's VALUE RANGE is cut into `n_buckets` fixed
    intervals (bucket = draw div width - deterministic, not
    partition-dependent), ranks are local per bucket (distributed
    window), and each bucket's global offset is the cumulative count
    of lower buckets - an aggregate of at most n_buckets rows,
    broadcast back. Integer `div`, not float division: at 2^63 the
    double mantissa would misbucket edge draws.
    """
    width = (1 << 63) // n_buckets + 1
    draw = _draw_u63(F.col(key_col), seed, hash_family)
    d = df.withColumn("_d", draw) \
          .withColumn("_b", F.expr(f"_d div {width}"))
    # NOTE (r7): a repartition("_b")-shared-exchange variant (counts
    # aggregate reading the ranking window's exchange via
    # ReusedExchange instead of re-deriving the input) was measured
    # and REJECTED: under AQE the broadcast offsets stage serializes
    # behind the exchange materialization and every measured
    # composition (standalone and inside the composed corpus chains) was
    # slower than this two-evaluation form, whose counts branch is a
    # narrow column-pruned pass.
    counts = d.groupBy("_b").agg(F.count("*").alias("_c"))
    offsets = bucket_offsets(counts, "_b", "_c")
    lw = Window.partitionBy("_b").orderBy("_d", key_col)
    return (d.withColumn("_lr", F.row_number().over(lw))
            .join(F.broadcast(offsets), "_b")
            .withColumn(out_col,
                        (F.col("_off") + F.col("_lr") - 1).cast("long"))
            .drop("_d", "_b", "_lr", "_off"))
