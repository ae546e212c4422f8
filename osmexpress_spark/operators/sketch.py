"""Cardinality / frequency sketches over the corpus (KMV, Count-Min).

Training-data pipelines need cheap corpus statistics long before they
need exact ones: how many distinct shingles (dedup capacity planning),
how often does each boilerplate phrase occur (hot-bucket caps). Spark's
built-in `approx_count_distinct` answers the first with HLL++ but its
estimates are engine-internal; these two operators are the
*deterministic, engine-portable* sketch family — every number they emit
is reproducible bit-for-bit on any engine with md5 (the same
determinism contract as operators/dedup.py), so the driver's DuckDB
oracle can check them exactly.

- KMV (k minimum values, Bar-Yossef et al. 2002): keep the k smallest
  48-bit hashes of the distinct items; estimate = (k-1) * 2^48 /
  h_(k). 48 bits so every hash is exactly representable as an IEEE
  double and the single division is the only float op.
- Count-Min (Cormode & Muthukrishnan 2005): d hash rows x w buckets of
  exact counts; a point estimate is the min over rows. Build is one
  d-fold explode + map-side-combined count — the sketch is d*w rows
  total no matter the corpus size.

Scale shape: both sketches reduce the corpus to a bounded object (k
rows / d*w rows) via map-side-combinable aggregation; nothing
item-level ever reaches the driver. The KMV `distinct()` shuffles only
per-partition-deduped 8-byte hashes; the CMS groupBy shuffles at most
d*w partial counts per task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import lineage

KMV_BITS = 48  # 12 hex chars: exact in an IEEE double (<= 2^53)


def hash48(col: Column) -> Column:
    """Deterministic 48-bit uniform hash of a string column (md5
    prefix), the engine-portable idiom shared with dedup/sample."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def _rank_minima(hashes: DataFrame, k: int) -> DataFrame:
    """hashes(h) -> the k smallest distinct, as (rank, h): distinct
    (map-side partial dedup) -> global k-smallest (TakeOrdered, no full
    sort materialization) -> rank window over exactly k rows."""
    from pyspark.sql import Window

    mins = hashes.select("h").distinct().orderBy("h").limit(k)
    win = Window.orderBy("h")
    return mins.select(
        F.row_number().over(win).cast("int").alias("rank"), "h"
    )


def kmv_minima(df: DataFrame, item: Column, k: int = 256) -> DataFrame:
    """The k smallest distinct 48-bit item hashes, as (rank, h).
    Duplicate items share a hash, so the distinct inside _rank_minima
    is the multiset->set step of the sketch."""
    return _rank_minima(df.select(hash48(item).alias("h")), k)


def kmv_distinct_estimate(df: DataFrame, item: Column, k: int = 256) -> DataFrame:
    """One-row distinct-count estimate: (k_used, kth_hash,
    est_distinct DOUBLE). With fewer than k distinct hashes the sketch
    has seen everything and the estimate IS the exact count (the
    standard KMV small-cardinality branch); otherwise
    est = (k-1) * 2^48 / h_(k) — exact integer operands, one IEEE
    division, so the double is engine-exact."""
    minima = kmv_minima(df, item, k)
    return minima.agg(
        F.count(F.lit(1)).cast("int").alias("k_used"),
        F.max("h").alias("kth_hash"),
    ).select(
        "k_used",
        "kth_hash",
        F.when(F.col("k_used") < k, F.col("k_used").cast("double"))
        .otherwise(
            (F.lit(float(k - 1)) * F.lit(float(1 << KMV_BITS)))
            / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def _cms_buckets(item: Column, w: int, d: int) -> list[Column]:
    """The d bucket ids of an item from ONE md5: row j reads the j-th
    40-bit (10-hex) slice of md5(item) mod w — the minhash design rule
    (one md5 feeds every permutation) applied to the CMS rows. Caps
    d at 3 (3 x 10 hex <= the 32-hex digest)."""
    if not 1 <= d <= 3:
        raise ValueError("d must be 1..3 (one 10-hex md5 slice per row)")
    m = F.md5(item)
    return [
        (
            F.conv(F.substring(m, 1 + 10 * j, 10), 16, 10).cast("long") % w
        ).cast("int")
        for j in range(d)
    ]


def cms_build(
    df: DataFrame, item: Column, w: int = 1024, d: int = 3
) -> DataFrame:
    """Count-Min sketch of item frequencies: (j, bucket, cnt) for
    j in [0, d), bucket in [0, w). One md5 per item (sliced per row),
    one explode to d rows + one map-side-combined count; the result is
    at most d*w rows."""
    bs = _cms_buckets(item, w, d)
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), b.alias("bucket"))
                    for j, b in enumerate(bs)
                ]
            )
        ).alias("e")
    )
    return (
        rows.select(F.col("e.j").alias("j"), F.col("e.bucket").alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, items: list[str], w: int = 1024, d: int = 3
) -> DataFrame:
    """Point-frequency estimates for a fixed probe list: (item,
    est_count) where est_count = min over the d rows of the item's
    bucket count (the classic CMS upper bound; 0 if a bucket is
    empty). The probe list broadcasts; the sketch is already bounded
    at d*w rows."""
    spark = sketch.sparkSession
    probe_items = spark.createDataFrame([(it,) for it in items], "item string")
    bs = _cms_buckets(F.col("item"), w, d)
    probes = probe_items.select(
        "item",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), b.alias("bucket"))
                    for j, b in enumerate(bs)
                ]
            )
        ).alias("e"),
    ).select("item", F.col("e.j").alias("j"), F.col("e.bucket").alias("bucket"))
    # broadcast the SKETCH: it is the bounded side (<= d*w rows), and
    # Spark cannot broadcast the preserved (left) side of a left-outer
    # join anyway — a hint there is silently ignored
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left_outer")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def kmv_merge(minima_frames: list[DataFrame], k: int = 256) -> DataFrame:
    """Merge KMV sketches (the property that makes sketches usable for
    distributed rollups: per-partition/per-day sketches combine into
    the corpus sketch without touching raw data). Union the minima,
    dedup hashes, keep the k smallest — identical to sketching the
    concatenated inputs, because min-k of a union is min-k of the
    per-input min-ks."""
    from functools import reduce

    if not minima_frames:
        raise ValueError("kmv_merge needs at least one sketch")
    u = reduce(
        lambda a, b: a.unionByName(b),
        [m.select("h") for m in minima_frames],
    )
    return _rank_minima(u, k)


def kmv_minima_by(
    df: DataFrame, key_col: str, item: Column, k: int = 256
) -> DataFrame:
    """Per-group KMV minima: the k smallest distinct 48-bit item
    hashes WITHIN each group, as (key_col, rank, h).  One map-side-
    deduped distinct on (key, h), then a rank window PARTITIONED BY
    the key — parallel across groups, never the global single-
    partition window; output bounded at |groups| * k rows.  The
    per-group sibling of kmv_minima, for 'distinct tokens per source'
    censuses where exact per-group countDistinct would shuffle the
    full distinct set to one aggregation anyway."""
    from pyspark.sql import Window

    hashes = df.select(
        F.col(key_col), hash48(item).alias("h")
    ).distinct()
    win = Window.partitionBy(key_col).orderBy("h")
    return (
        hashes.withColumn(
            "rank", F.row_number().over(win).cast("int")
        )
        .where(F.col("rank") <= k)
        .select(key_col, "rank", "h")
    )


def kmv_distinct_estimate_by(
    df: DataFrame, key_col: str, item: Column, k: int = 256
) -> DataFrame:
    """Per-group distinct-count estimate: (key_col, k_used, kth_hash,
    est_distinct DOUBLE), one row per group — the same two-branch
    estimator as kmv_distinct_estimate (exact below k distinct hashes,
    (k-1)*2^48/h_(k) above; exact integer operands, one IEEE division,
    engine-exact doubles)."""
    minima = kmv_minima_by(df, key_col, item, k)
    return minima.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("int").alias("k_used"),
        F.max("h").alias("kth_hash"),
    ).select(
        key_col,
        "k_used",
        "kth_hash",
        F.when(F.col("k_used") < k, F.col("k_used").cast("double"))
        .otherwise(
            (F.lit(float(k - 1)) * F.lit(float(1 << KMV_BITS)))
            / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def cms_merge(sketches: list[DataFrame]) -> DataFrame:
    """Merge Count-Min sketches built with the SAME (w, d): cell-wise
    count addition — exactly the sketch of the concatenated streams.
    One union + one map-side-combined sum over <= d*w keys."""
    from functools import reduce

    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    u = reduce(lambda a, b: a.unionByName(b), sketches)
    return u.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))


# ---------------------------------------------------------------------------
# Integer-log quantile sketch (DDSketch-shaped, Masson et al. 2019, but
# with PURE-INTEGER bucketing so every bucket id, bound, and rank is
# reproducible bit-for-bit on any engine — the same determinism contract
# as KMV/CMS above; DDSketch's log-gamma index is transcendental and
# would 1-ulp-diverge across engines at bucket boundaries).
#
# Bucketing of a nonnegative BIGINT v with m = 2^sub_bits linear
# sub-buckets per octave:
#   v <= 0          -> bucket 0
#   v >= 1          -> oct = floor(log2 v) = length(bin(v)) - 1
#                      sh  = max(oct - sub_bits, 0)
#                      bucket = 1 + oct*m + ((v - 2^oct) >> sh)
# Bucket width is 2^sh <= 2^oct / m while every value in the octave is
# >= 2^oct, so the relative error of answering with a bucket bound is
# <= 1/m (6.25% at the default sub_bits=4); for oct < sub_bits buckets
# are single-valued (exact). floor(log2) is computed as the length of
# the binary-string rendering — a string op, not a float op — because
# both Spark and DuckDB expose `bin()` and agree on it exactly.
#
# Scale shape: the sketch is a groupBy over at most 1 + 64*m bucket ids
# (map-side combine), so the corpus folds to a <=1025-row object no
# matter its size; merge is cell-wise count addition; quantile queries
# run a window over the bounded sketch only.

QS_SUB_BITS = 4  # m = 16 sub-buckets/octave -> <= 6.25% relative error


def _nonneg_checked(v: Column) -> Column:
    """Scan-side guard: raise on negative measures instead of folding
    them into bucket 0 and silently shifting every rank/bound. NULLs
    pass through (assert_true throws on a null condition, and the
    callers drop nulls with their own filter — whose plan placement
    relative to this select Catalyst may reorder). assert_true returns
    NULL on success, so the when() collapses to the value."""
    return F.when(
        F.assert_true(
            (v >= 0) | v.isNull(),
            "quantile sketch requires a nonnegative measure",
        ).isNull(),
        v,
    )


def quantile_bucket(v: Column, sub_bits: int = QS_SUB_BITS) -> Column:
    """Bucket id (INT) of a nonnegative BIGINT value; values <= 0 fold
    to bucket 0. Pure integer/string ops (bin-length floor-log2 + shifts)
    so DuckDB computes the identical id."""
    m = 1 << sub_bits
    v = v.cast("long")
    octv = (F.length(F.bin(v)) - F.lit(1)).cast("int")
    sh = F.greatest(octv - F.lit(sub_bits), F.lit(0))
    sub = F.call_function(
        "shiftright", v - F.call_function("shiftleft", F.lit(1).cast("long"), octv), sh
    )
    return (
        F.when(v <= 0, F.lit(0))
        .otherwise(F.lit(1) + octv * m + sub)
        .cast("int")
    )


def quantile_bucket_bounds(bucket: Column, sub_bits: int = QS_SUB_BITS) -> list[Column]:
    """[lo, hi] inclusive BIGINT bounds of a bucket id (bucket 0 ->
    [0, 0]). Inverts quantile_bucket with the same shift arithmetic."""
    m = 1 << sub_bits
    b1 = (bucket.cast("long") - F.lit(1)).cast("long")
    octv = F.floor(b1 / F.lit(m)).cast("int")
    sub = (b1 % m).cast("long")
    sh = F.greatest(octv - F.lit(sub_bits), F.lit(0))
    one = F.lit(1).cast("long")
    lo = F.call_function("shiftleft", one, octv) + F.call_function("shiftleft", sub, sh)
    hi = lo + F.call_function("shiftleft", one, sh) - F.lit(1)
    zero = bucket.cast("long") <= 0
    return [
        F.when(zero, F.lit(0).cast("long")).otherwise(lo).alias("lo"),
        F.when(zero, F.lit(0).cast("long")).otherwise(hi).alias("hi"),
    ]


def quantile_sketch_build(
    df: DataFrame, value: Column, sub_bits: int = QS_SUB_BITS
) -> DataFrame:
    """Quantile sketch of a nonnegative integer measure: (bucket INT,
    cnt BIGINT), at most 1 + 64*2^sub_bits rows. One map-side-combined
    count — the only shuffle carries <=1025 partial rows per task.
    Null measures are dropped (standard aggregate semantics); a null
    bucket row would otherwise sort FIRST in the cumsum window and
    silently shift every rank."""
    return (
        df.select(value.cast("long").alias("_v"))
        .where(F.col("_v").isNotNull())
        .select(
            quantile_bucket(
                _nonneg_checked(F.col("_v")), sub_bits
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantile_sketch_merge(sketches: list[DataFrame]) -> DataFrame:
    """Merge sketches built with the SAME sub_bits: cell-wise count
    addition == the sketch of the concatenated inputs (bucket ids are
    value-determined, so equal buckets mean equal value ranges)."""
    from functools import reduce

    if not sketches:
        raise ValueError("quantile_sketch_merge needs at least one sketch")
    u = reduce(lambda a, b: a.unionByName(b), sketches)
    return u.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def quantile_sketch_query(
    sketch: DataFrame,
    quantiles: list[tuple[int, int]],
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """Answer rational quantiles (num, den) from a sketch: one row per
    quantile with (q_num, q_den, rank, bucket, lo, hi) where rank =
    ceil(num*n/den) (integer arithmetic: (num*n + den - 1) div den) and
    bucket is the first bucket whose cumulative count reaches the rank.
    The true q-quantile lies in [lo, hi], so the relative error is
    <= 2^-sub_bits. Runs entirely over the bounded sketch: a window
    cumsum on <=1025 rows + a broadcast probe join."""
    from pyspark.sql import Window

    if not quantiles:
        raise ValueError("quantile_sketch_query needs at least one quantile")
    for num, den in quantiles:
        if not 0 < num <= den:
            raise ValueError(f"quantile {num}/{den} outside (0, 1]")
    spark = sketch.sparkSession
    cum = sketch.select(
        "bucket",
        F.sum("cnt").over(Window.orderBy("bucket")).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy()
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    probes = spark.createDataFrame(
        [(int(n), int(d)) for n, d in quantiles], "q_num long, q_den long"
    )
    hit = (
        cum.join(F.broadcast(probes))
        .withColumn(
            "rank", F.expr("(q_num * n + q_den - 1) div q_den").cast("long")
        )
        .where(F.col("cum") >= F.col("rank"))
        .groupBy("q_num", "q_den", "rank")
        .agg(F.min("bucket").alias("bucket"))
    )
    lo, hi = quantile_bucket_bounds(F.col("bucket"), sub_bits)
    return hit.select("q_num", "q_den", "rank", "bucket", lo, hi)


def quantile_sketch_build_by(
    df: DataFrame,
    key: Column,
    value: Column,
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """Per-group quantile sketch: (key, bucket, cnt) — the grouped
    sibling of quantile_sketch_build. Still one map-side-combined
    count; the shuffle carries at most |keys| * 1025 partial rows per
    task, so per-source/per-language length profiles of a 100 TB
    corpus cost one pass."""
    return (
        df.select(key.alias("key"), value.cast("long").alias("_v"))
        .where(F.col("_v").isNotNull())
        .select(
            "key",
            quantile_bucket(
                _nonneg_checked(F.col("_v")), sub_bits
            ).alias("bucket"),
        )
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantile_sketch_query_by(
    sketch: DataFrame,
    quantiles: list[tuple[int, int]],
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """Per-group quantile answers: one row per (key, quantile) with
    the same (rank, bucket, lo, hi) contract as quantile_sketch_query.
    The cumsum window partitions by key (no single-partition global
    window), so the query scales with the number of groups."""
    from pyspark.sql import Window

    if not quantiles:
        raise ValueError("quantile_sketch_query_by needs at least one quantile")
    for num, den in quantiles:
        if not 0 < num <= den:
            raise ValueError(f"quantile {num}/{den} outside (0, 1]")
    spark = sketch.sparkSession
    cum = sketch.select(
        "key",
        "bucket",
        F.sum("cnt")
        .over(Window.partitionBy("key").orderBy("bucket"))
        .alias("cum"),
        F.sum("cnt")
        .over(
            Window.partitionBy("key").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    probes = spark.createDataFrame(
        [(int(n), int(d)) for n, d in quantiles], "q_num long, q_den long"
    )
    hit = (
        cum.join(F.broadcast(probes))
        .withColumn(
            "rank", F.expr("(q_num * n + q_den - 1) div q_den").cast("long")
        )
        .where(F.col("cum") >= F.col("rank"))
        .groupBy("key", "q_num", "q_den", "rank")
        .agg(F.min("bucket").alias("bucket"))
    )
    lo, hi = quantile_bucket_bounds(F.col("bucket"), sub_bits)
    return hit.select("key", "q_num", "q_den", "rank", "bucket", lo, hi)


# --- sketch-guided EXACT quantiles (distributed selection) -----------------
#
# The sketch answers "p99 is in [lo, hi]" in one pass; when the exact
# value is required (SLA cutoffs, dataset split thresholds), classic
# distributed selection refines the bracket with equal-width integer
# histograms — each round is one filtered corpus pass that collects a
# bounded 1024-bin count vector, shrinking the bracket ~1000x, until
# few enough distinct values remain to enumerate. Total passes:
# 1 (sketch) + ceil(log1024(width)) per quantile (<=5 for 2^62-wide
# domains, 1-2 in practice since the sketch bracket is already narrow).
# Nothing unbounded ever reaches the driver: the sketch (<=1025 rows),
# one 1024-bin histogram per round, and the final <=65536 distinct
# values with counts.

_XQ_BINS = 1024
_XQ_ENUM_WIDTH = 65536


def _bucket_bounds_py(bucket: int, sub_bits: int) -> tuple[int, int]:
    """Driver-side inversion of quantile_bucket — the ONE Python copy
    of the bounds formula (quantile_bucket_bounds is its Column twin),
    shared by exact_quantiles and exact_quantiles_by."""
    if bucket <= 0:
        return (0, 0)
    m = 1 << sub_bits
    octv, sub = (bucket - 1) // m, (bucket - 1) % m
    sh = max(octv - sub_bits, 0)
    lo = (1 << octv) + (sub << sh)
    return (lo, lo + (1 << sh) - 1)


def _exact_rank_value(vals: DataFrame, k: int, lo: int, hi: int) -> int:
    """The k-th smallest (1-based) of vals.v restricted to [lo, hi],
    by histogram-refinement selection. Caller guarantees the restricted
    multiset has >= k elements."""
    while hi - lo + 1 > _XQ_ENUM_WIDTH:
        step = (hi - lo + _XQ_BINS) // _XQ_BINS  # ceil(width/bins)
        # integer div, not float: (v - lo) can exceed 2^53 where double
        # division would misplace boundary values into the wrong bin
        hist = dict(
            vals.where((F.col("v") >= lo) & (F.col("v") <= hi))
            .groupBy(
                F.expr(f"(v - {lo}L) div {step}L").cast("long").alias("bin")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        cum = 0
        for b in range(_XQ_BINS):
            c = hist.get(b, 0)
            if cum + c >= k:
                k -= cum
                lo, hi = lo + b * step, min(lo + (b + 1) * step - 1, hi)
                break
            cum += c
        else:  # pragma: no cover - caller contract violated
            raise ValueError("rank exceeds bracket population")
    counts = sorted(
        vals.where((F.col("v") >= lo) & (F.col("v") <= hi))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    cum = 0
    for r in counts:
        cum += r["cnt"]
        if cum >= k:
            return r["v"]
    raise ValueError("rank exceeds bracket population")


def exact_quantiles(
    df: DataFrame,
    value: Column,
    quantiles: list[tuple[int, int]],
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """EXACT rational quantiles of a nonnegative integer measure:
    one row per quantile with (q_num, q_den, rank, value) where value
    is the rank-th smallest element (rank = ceil(num*n/den)).

    The sketch provides the initial bracket and — because its bucket
    counts are exact — the exact rank offset below the bracket;
    _exact_rank_value then refines distributively. Deterministic and
    engine-exact by construction: the answer is an actual data value.
    """
    if not quantiles:
        raise ValueError("exact_quantiles needs at least one quantile")
    spark = df.sparkSession
    vals = df.select(
        _nonneg_checked(value.cast("long")).alias("v")
    ).where(F.col("v").isNotNull())
    sk = sorted(
        (r["bucket"], r["cnt"])
        for r in quantile_sketch_build(vals, F.col("v"), sub_bits).collect()
    )
    n = sum(c for _, c in sk)
    if n == 0:
        raise ValueError("exact_quantiles on an empty input")
    out = []
    for num, den in quantiles:
        if not 0 < num <= den:
            raise ValueError(f"quantile {num}/{den} outside (0, 1]")
        rank = (num * n + den - 1) // den
        cum = 0
        for bucket, cnt in sk:
            if cum + cnt >= rank:
                below = cum
                break
            cum += cnt
        lo, hi = _bucket_bounds_py(bucket, sub_bits)
        v = (
            0
            if bucket <= 0
            else _exact_rank_value(vals, rank - below, lo, hi)
        )
        out.append((num, den, rank, v))
    return spark.createDataFrame(
        out, "q_num long, q_den long, rank long, value long"
    )


_XQ_MAX_GROUPS = 4096


def exact_quantiles_by(
    df: DataFrame,
    key: Column,
    value: Column,
    quantiles: list[tuple[int, int]],
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """EXACT per-group quantiles: (key, q_num, q_den, rank, value) —
    the grouped sibling of exact_quantiles, refined for ALL
    (group, quantile) brackets JOINTLY so the pass count does not
    multiply by the group count.

    Round structure: the grouped sketch (one pass) brackets every
    (group, quantile) rank exactly; then each refinement round is ONE
    corpus pass — the open brackets broadcast as (key, qid, lo, hi),
    values join their group's brackets, bin by integer div, and the
    per-bracket 1024-bin histograms come back together (bounded:
    open_brackets * 1024 counter rows; group count capped at 4096
    via a countDistinct pre-pass BEFORE the sketch collect, so a
    runaway key can never flood the driver; null keys are dropped —
    the broadcast bracket join on string equality could never match
    them). Brackets narrow ~1000x per round, so total
    passes stay 1 + ceil(log1024(width)) (<=6) regardless of how many
    groups there are. The final selection is one joint pass too, and
    it stays DISTRIBUTED: a cumulative window per (key, quantile) over
    that bracket's <=65536 distinct values picks the answer, so the
    driver never collects value lists (brackets * 65536 rows could
    reach millions with many groups). Keys are cast to string (the
    broadcast bracket table keys on it; output column `key` is string).

    The 100 TB shape this buys: exact per-source/per-language p99s of
    a corpus in ~6 scans total, with nothing unbounded at the driver —
    the sketch (<=1025 rows/group, 4096-group cap), one histogram
    vector per open bracket per round, and the k result rows.
    """
    if not quantiles:
        raise ValueError("exact_quantiles_by needs at least one quantile")
    for num, den in quantiles:
        if not 0 < num <= den:
            raise ValueError(f"quantile {num}/{den} outside (0, 1]")
    spark = df.sparkSession
    vals = df.select(
        key.cast("string").alias("key"),
        _nonneg_checked(value.cast("long")).alias("v"),
    ).where(F.col("v").isNotNull() & F.col("key").isNotNull())

    n_groups = vals.select(F.countDistinct("key")).collect()[0][0]
    if n_groups > _XQ_MAX_GROUPS:
        raise ValueError(
            f"{n_groups} groups exceeds the {_XQ_MAX_GROUPS} cap; "
            "use exact_quantiles_by_sharded (hash-sharded sequential "
            "refinement) or pre-aggregate the key space"
        )
    sk_rows = quantile_sketch_build_by(
        vals, F.col("key"), F.col("v"), sub_bits
    ).collect()
    groups: dict = {}
    for r in sk_rows:
        groups.setdefault(r["key"], []).append((r["bucket"], r["cnt"]))

    # bracket state per (key, qid): [lo, hi, k] with k the remaining
    # rank inside [lo, hi]
    brackets: dict = {}
    ranks: dict = {}
    for g, rows in groups.items():
        rows.sort()
        n = sum(c for _, c in rows)
        for qid, (num, den) in enumerate(quantiles):
            rank = (num * n + den - 1) // den
            cum = 0
            for bucket, cnt in rows:
                if cum + cnt >= rank:
                    break
                cum += cnt
            lo, hi = _bucket_bounds_py(bucket, sub_bits)
            brackets[(g, qid)] = [lo, hi, rank - cum]
            ranks[(g, qid)] = rank

    def open_brackets():
        return {
            gk: b
            for gk, b in brackets.items()
            if b[1] - b[0] + 1 > _XQ_ENUM_WIDTH
        }

    while True:
        ob = open_brackets()
        if not ob:
            break
        rows = [
            (g, qid, lo, hi, (hi - lo + _XQ_BINS) // _XQ_BINS)
            for (g, qid), (lo, hi, _) in ob.items()
        ]
        bdf = spark.createDataFrame(
            rows, "key string, qid int, lo long, hi long, step long"
        )
        hist = (
            vals.join(F.broadcast(bdf), "key")
            .where((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
            .groupBy(
                "key", "qid", F.expr("(v - lo) div step").alias("bin")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        by_gq: dict = {}
        for r in hist:
            by_gq.setdefault((r["key"], r["qid"]), {})[r["bin"]] = r["cnt"]
        for (g, qid), (lo, hi, k) in ob.items():
            step = (hi - lo + _XQ_BINS) // _XQ_BINS
            h = by_gq.get((g, qid), {})
            cum = 0
            for b in range(_XQ_BINS):
                c = h.get(b, 0)
                if cum + c >= k:
                    brackets[(g, qid)] = [
                        lo + b * step,
                        min(lo + (b + 1) * step - 1, hi),
                        k - cum,
                    ]
                    break
                cum += c
            else:  # pragma: no cover - sketch counts guarantee coverage
                raise ValueError("rank exceeds bracket population")

    from pyspark.sql import Window

    rows = [
        (
            g,
            qid,
            int(quantiles[qid][0]),
            int(quantiles[qid][1]),
            lo,
            hi,
            k,
            ranks[(g, qid)],
        )
        for (g, qid), (lo, hi, k) in brackets.items()
    ]
    bdf = spark.createDataFrame(
        rows,
        "key string, qid int, q_num long, q_den long, "
        "lo long, hi long, k long, rank long",
    )
    cand = (
        vals.join(F.broadcast(bdf), "key")
        .where((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
        .groupBy("key", "qid", "q_num", "q_den", "k", "rank", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    win = Window.partitionBy("key", "qid").orderBy("v")
    return (
        cand.withColumn("cum", F.sum("cnt").over(win))
        .where(F.col("cum") >= F.col("k"))
        .groupBy("key", "q_num", "q_den", "rank")
        .agg(F.min("v").alias("value"))
    )


def exact_frequent_items(
    df: DataFrame,
    item: Column,
    min_count: int,
    w: int = 1024,
    d: int = 3,
) -> DataFrame:
    """EXACT frequent items — (item, cnt) for every item occurring at
    least min_count times — with a Count-Min prune doing the heavy
    lifting: pass 1 folds the stream to the d*w sketch; pass 2 filters
    scan-side on the CMS estimate (a constant-folded array literal
    lookup per hash row — the estimate is an UPPER bound, so no true
    frequent item can be pruned) and only the surviving candidates
    reach the exact count aggregation, whose HAVING removes the
    collision false positives.

    The 100 TB shape: the expensive item-key shuffle shrinks from the
    whole vocabulary to items that plausibly pass the support
    threshold (typically orders of magnitude fewer for Zipfian
    streams); the sketch itself is the only driver transfer (d*w
    rows). This is the exact-answer sibling of cms_estimate's
    probe-list upper bounds. Null items are dropped (a null md5 would
    otherwise emit a null-bucket sketch row and crash the driver-side
    grid fill)."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    sel = df.select(item.alias("item")).where(F.col("item").isNotNull())
    # scale-adaptive fan-out (guide §2): both passes hash every item
    # with interpreted md5 expressions, so a narrow upstream scan (the
    # bench fixture is one parquet row group) would run them serially;
    # round-robin the single item column across the session's slots
    # when the scan is narrower.  At scale the condition is false and
    # the two-pass scan shape is untouched.
    sel = lineage.fan_out(sel)
    rows = cms_build(sel, F.col("item"), w, d).collect()
    counts = [[0] * w for _ in range(d)]
    for r in rows:
        counts[r["j"]][r["bucket"]] = r["cnt"]
    bs = _cms_buckets(F.col("item"), w, d)
    # one ArrayType literal per hash row instead of a 1024-child
    # CreateArray: the optimizer walks every literal node on every
    # rule pass, so the flat form cuts d*w tree nodes out of planning;
    # bigint keeps the lookup overflow-safe at corpus scale
    ests = [
        F.element_at(
            F.lit(counts[j]).cast("array<bigint>"), bs[j] + F.lit(1)
        )
        for j in range(d)
    ]
    est = F.least(*ests) if d > 1 else ests[0]
    return (
        sel.where(est >= F.lit(min_count))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )


def exact_quantiles_by_sharded(
    df: DataFrame,
    key: Column,
    value: Column,
    quantiles: list[tuple[int, int]],
    sub_bits: int = QS_SUB_BITS,
    n_shards: int | None = None,
) -> DataFrame:
    """exact_quantiles_by past the 4096-group driver cap: hash-shard
    the KEY SPACE and run the joint refinement once per shard,
    sequentially. Every shard keeps the parent's bounded-driver
    contract (its own <=4096-group sketch, histogram vectors, result
    rows); the trade is pass count — total scans multiply by the shard
    count — which is the honest cost of exactness at unbounded group
    cardinality (each group's bracket state is driver-resident by
    design; a million-group profile belongs in quantile_sketch_by's
    mergeable form instead).

    n_shards defaults to ceil(n_groups / 2048): half the cap as the
    per-shard target leaves 2x headroom for hash imbalance, and the
    per-shard cap check still backstops a pathological key set (raise,
    never a silent driver flood). Group-to-shard routing is
    pmod(xxhash64(key), n_shards) — computed scan-side, so each shard
    pass prunes to ~1/n_shards of the corpus before any shuffle."""
    keyed = df.select(
        key.cast("string").alias("__k"), value.alias("__v")
    ).where(F.col("__k").isNotNull())
    if n_shards is None:
        n_groups = keyed.select(F.countDistinct("__k")).collect()[0][0]
        n_shards = max(1, -(-n_groups // (_XQ_MAX_GROUPS // 2)))
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    out: DataFrame | None = None
    for s in range(n_shards):
        shard = keyed.where(
            F.pmod(F.xxhash64(F.col("__k")), F.lit(n_shards)) == F.lit(s)
        )
        part = exact_quantiles_by(
            shard, F.col("__k"), F.col("__v"), quantiles, sub_bits
        )
        out = part if out is None else out.unionByName(part)
    return out


def drift_census(
    old: DataFrame,
    new: DataFrame,
    value: Column,
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """Distribution-drift census between two corpus snapshots: the
    integer-log sketch of each side, full-outer-joined on bucket id —
    (bucket, old_n, new_n, lo, hi), absent buckets count 0.

    This is the exact, engine-checkable core of drift monitoring
    (PSI / KL between yesterday's corpus and today's): each side folds
    to <=1025 integer bucket counts via map-side combine (one scan per
    side, the quantile_sketch_build plan), and the join runs over two
    bounded sketches. psi_drift() turns the census into the standard
    population-stability-index scalar driver-side — the only
    transcendental (ln) stays OUT of the distributed, oracle-checked
    part."""
    return drift_census_from_sketches(
        quantile_sketch_build(old, value, sub_bits),
        quantile_sketch_build(new, value, sub_bits),
        sub_bits,
    )


def drift_census_from_sketches(
    old_sketch: DataFrame,
    new_sketch: DataFrame,
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """drift_census over PREBUILT (bucket, cnt) sketches — the
    monitoring-loop form: the reference side is a persisted <=1025-row
    sketch read back from parquet, so comparing every incoming batch
    against it never rescans the reference corpus."""
    a = old_sketch.withColumnRenamed("cnt", "old_n")
    b = new_sketch.withColumnRenamed("cnt", "new_n")
    j = a.join(b, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("old_n", F.lit(0)).alias("old_n"),
        F.coalesce("new_n", F.lit(0)).alias("new_n"),
    )
    lo, hi = quantile_bucket_bounds(F.col("bucket"), sub_bits)
    return j.select(
        "bucket", "old_n", "new_n", lo.alias("lo"), hi.alias("hi")
    )


def psi_drift(census: DataFrame, floor: float = 1e-6) -> float:
    """Population stability index over a drift_census frame:
    PSI = sum_b (p_b - q_b) * ln(p_b / q_b), with each side's bucket
    share floored at `floor` so empty buckets contribute finitely
    (the standard PSI smoothing). Collects the census — bounded at
    <=2*1025 rows by construction — and computes the ln driver-side,
    keeping the distributed plan transcendental-free."""
    import math

    rows = census.select("bucket", "old_n", "new_n").collect()
    n_old = sum(r["old_n"] for r in rows)
    n_new = sum(r["new_n"] for r in rows)
    if n_old == 0 or n_new == 0:
        raise ValueError("psi_drift needs non-empty snapshots on both sides")
    psi = 0.0
    for r in rows:
        p = max(r["old_n"] / n_old, floor)
        q = max(r["new_n"] / n_new, floor)
        psi += (p - q) * math.log(p / q)
    return psi


def mad_outliers(
    df: DataFrame,
    value: Column,
    keep_cols: list[str],
    scale_num: int = 3,
    scale_den: int = 1,
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """Robust outlier detection by the median-absolute-deviation rule:
    flag rows where |v - median(v)| * scale_den > scale_num * MAD,
    MAD = median(|v - median(v)|). Output: (*keep_cols, v, abs_dev,
    med, mad) — every column an exact integer, so the rule is an
    integer inequality with no distribution assumptions (the classic
    3-sigma rule's robust sibling; median/MAD have a 50% breakdown
    point where mean/stddev have 0%).

    Scale shape: two exact_quantiles calls (each <=6 bounded
    histogram-refinement passes, <=1025-row driver transfers) produce
    the two scalars; the flag itself is one scan-side predicate — the
    corpus never shuffles. Medians use the same rank = ceil(n/2)
    convention as exact_quantiles, so the whole output is
    oracle-checkable. Caveat (standard for MAD): when >half the values
    are identical, MAD = 0 and every v != med flags; pick the
    scale ratio with that in mind for quantized measures."""
    if scale_num < 0 or scale_den <= 0:
        raise ValueError("scale must be a nonnegative rational")
    vals = df.select(
        *keep_cols, _nonneg_checked(value.cast("long")).alias("v")
    ).where(F.col("v").isNotNull())
    med = exact_quantiles(vals, F.col("v"), [(1, 2)], sub_bits).collect()[0][
        "value"
    ]
    dev = vals.withColumn("abs_dev", F.abs(F.col("v") - F.lit(med)))
    mad = exact_quantiles(dev, F.col("abs_dev"), [(1, 2)], sub_bits).collect()[
        0
    ]["value"]
    return dev.where(
        F.col("abs_dev") * F.lit(scale_den) > F.lit(scale_num * mad)
    ).select(
        *keep_cols,
        "v",
        "abs_dev",
        F.lit(med).cast("long").alias("med"),
        F.lit(mad).cast("long").alias("mad"),
    )


def winsorized_stats(
    df: DataFrame,
    value: Column,
    group: Column,
    lo_q: tuple[int, int] = (1, 20),
    hi_q: tuple[int, int] = (19, 20),
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """Winsorized per-group aggregates: clip the measure to the GLOBAL
    exact [lo_q, hi_q] quantile values, then aggregate per group —
    (key, n, win_sum, win_min, win_max), all exact integers. The
    outlier-robust mean is win_sum/n, one division away.

    Scale shape: one exact_quantiles call (<=6 bounded passes) yields
    the two clip scalars; the aggregate is a single map-side-combined
    scan with the clip as a scan-side greatest/least expression —
    no join, no second shuffle beyond the group-by."""
    qs = exact_quantiles(df, value, [lo_q, hi_q], sub_bits).collect()
    by_q = {(r["q_num"], r["q_den"]): r["value"] for r in qs}
    lo, hi = by_q[lo_q], by_q[hi_q]
    if lo > hi:
        raise ValueError("lo_q quantile exceeds hi_q quantile")
    clipped = F.greatest(
        F.lit(lo), F.least(F.lit(hi), value.cast("long"))
    )
    return (
        df.where(value.isNotNull())
        .groupBy(group.alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(clipped).alias("win_sum"),
            F.min(clipped).alias("win_min"),
            F.max(clipped).alias("win_max"),
        )
        .withColumn("clip_lo", F.lit(lo).cast("long"))
        .withColumn("clip_hi", F.lit(hi).cast("long"))
    )


def drift_census_by(
    old: DataFrame,
    new: DataFrame,
    key: Column,
    value: Column,
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """Per-group drift_census: (key, bucket, old_n, new_n, lo, hi) —
    the per-language/per-source form of snapshot drift monitoring.
    Same exact-integer contract; each side is one grouped sketch scan
    (quantile_sketch_build_by's plan), the join is over two bounded
    grouped sketches (<=1025 rows per group per side). Null keys are
    dropped on BOTH sides — a null group would never equi-join in the
    full-outer and the two sides' null rows would report as two
    phantom appeared/vanished groups (the exact_quantiles_by rule)."""
    a = quantile_sketch_build_by(
        old.select(key.cast("string").alias("key"), value.alias("_v"))
        .where(F.col("key").isNotNull()),
        F.col("key"), F.col("_v"), sub_bits,
    ).withColumnRenamed("cnt", "old_n")
    b = quantile_sketch_build_by(
        new.select(key.cast("string").alias("key"), value.alias("_v"))
        .where(F.col("key").isNotNull()),
        F.col("key"), F.col("_v"), sub_bits,
    ).withColumnRenamed("cnt", "new_n")
    j = a.join(b, ["key", "bucket"], "full_outer").select(
        "key",
        "bucket",
        F.coalesce("old_n", F.lit(0)).alias("old_n"),
        F.coalesce("new_n", F.lit(0)).alias("new_n"),
    )
    lo, hi = quantile_bucket_bounds(F.col("bucket"), sub_bits)
    return j.select(
        "key", "bucket", "old_n", "new_n", lo.alias("lo"), hi.alias("hi")
    )


def psi_drift_by(
    census: DataFrame, floor: float = 1e-6, max_groups: int = _XQ_MAX_GROUPS
) -> dict[str, float]:
    """Per-key PSI over a drift_census_by frame; groups whose old or
    new side is empty map to float('inf') (total drift — the group
    appeared or vanished). Collects the census — bounded by the same
    max_groups cap as exact_quantiles_by (checked BEFORE the collect,
    so a runaway key space cannot flood the driver)."""
    import math

    n_groups = census.select(F.countDistinct("key")).collect()[0][0]
    if n_groups > max_groups:
        raise ValueError(
            f"{n_groups} groups exceeds the {max_groups} cap; "
            "pre-aggregate the key space"
        )
    per: dict[str, list] = {}
    for r in census.select("key", "old_n", "new_n").collect():
        per.setdefault(r["key"], []).append((r["old_n"], r["new_n"]))
    out: dict[str, float] = {}
    for k, rows in per.items():
        n_old = sum(o for o, _ in rows)
        n_new = sum(nn for _, nn in rows)
        if n_old == 0 or n_new == 0:
            out[k] = float("inf")
            continue
        psi = 0.0
        for o, nn in rows:
            p = max(o / n_old, floor)
            q = max(nn / n_new, floor)
            psi += (p - q) * math.log(p / q)
        out[k] = psi
    return out


def quantile_ranks(
    df: DataFrame,
    values: dict[str, Column],
    keep_cols: list[str],
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """Bucket-granular quantile rank for each named measure:
    ``<name>_rank`` = the exact count of corpus rows falling in
    strictly LOWER sketch buckets — a deterministic integer rank in
    ``[0, n)`` that normalizes heterogeneous measures onto one scale
    WITHOUT a global sort. percent_rank()/ntile() over a corpus is a
    single-partition window (the classic scale killer); this is one
    <=1025-row sketch per measure plus a broadcast bucket join, so the
    corpus never shuffles at all. Resolution is the sketch's (<=6.25%
    relative at sub_bits=4): ranks are for BLENDING and bucketing, not
    for total ordering — ties within a bucket share a rank by design.

    Rows with a NULL measure are dropped (the sketch drops them, so a
    joined rank would be meaningless). All values must satisfy the
    sketch's nonnegative-integer contract (_nonneg_checked)."""
    if not values:
        raise ValueError("quantile_ranks: need at least one measure")
    from pyspark.sql import Window

    out = df
    rank_cols = []
    for name, value in values.items():
        out = out.withColumn(
            f"__b_{name}",
            quantile_bucket(
                _nonneg_checked(value.cast("long")), sub_bits
            ),
        ).where(F.col(f"__b_{name}").isNotNull())
    for name in values:
        sk = (
            out.groupBy(F.col(f"__b_{name}").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.orderBy("bucket")  # bounded: <=1025 sketch rows
        cum = sk.select(
            "bucket",
            (F.sum("cnt").over(w) - F.col("cnt")).alias(f"{name}_rank"),
        )
        out = out.join(
            F.broadcast(cum),
            out[f"__b_{name}"] == cum["bucket"],
        ).drop("bucket", f"__b_{name}")
        rank_cols.append(f"{name}_rank")
    return out.select(*keep_cols, *rank_cols)


def rank_blend(
    df: DataFrame,
    values: dict[str, Column],
    keep_cols: list[str],
    sub_bits: int = QS_SUB_BITS,
) -> DataFrame:
    """Rank-based score fusion for curation: quantile_ranks over every
    measure, plus ``blend_rank`` = the sum of the per-measure ranks —
    the scale-free way to combine heterogeneous quality signals
    (length, logreg quality, perplexity, novelty) into one ordering
    when their raw scales are incomparable (the same argument as RRF
    for retrieval, applied to corpus curation; sums of exact integer
    ranks keep the whole frame oracle-checkable)."""
    ranked = quantile_ranks(df, values, keep_cols, sub_bits)
    blend = None
    for name in values:
        c = F.col(f"{name}_rank")
        blend = c if blend is None else blend + c
    return ranked.withColumn("blend_rank", blend)


def cms_join_size(
    sketch_a: DataFrame, sketch_b: DataFrame, d: int = 3
) -> DataFrame:
    """Equi-join cardinality estimate from two Count-Min sketches of
    the join keys — the CMS inner-product estimator (Cormode &
    Muthukrishnan 2005 §4.2): for each row j, ``sum_b cnt_a[j,b] *
    cnt_b[j,b]`` upper-bounds ``|A JOIN B|`` = sum_k f_A(k)*f_B(k)
    (hash collisions only ever ADD mass), and the min over the d rows
    is the estimate.  One row out: (est_join_size, exactness-free
    upper bound).

    The planner's use at 100 TB: both sketches are d*w-row frames
    built with ONE map-side-combined pass each (cms_build), so the
    decision 'is this join explosive / which side should broadcast /
    how many shuffle partitions' costs two cheap scans and a
    bounded-size join of the sketches — never a trial execution of
    the join itself.  The sketches must share (w, d) and the key
    expression; merge-ability means per-partition or per-day sketches
    sum first (cms_merge) and estimate after."""
    a = sketch_a.select("j", "bucket", F.col("cnt").alias("cnt_a"))
    b = sketch_b.select("j", "bucket", F.col("cnt").alias("cnt_b"))
    per_row = (
        a.join(b, ["j", "bucket"])  # inner: missing bucket => product 0
        .groupBy("j")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("inner"))
    )
    # a row with no overlapping buckets contributes inner 0 — the min
    # must still see it, so re-seed the full row range
    spark = sketch_a.sparkSession
    rows = spark.range(d).select(F.col("id").cast("int").alias("j"))
    return (
        rows.join(per_row, "j", "left_outer")
        .select(F.coalesce(F.col("inner"), F.lit(0)).alias("inner"))
        .agg(F.min("inner").cast("bigint").alias("est_join_size"))
    )


def kmv_set_estimates(
    df_a: DataFrame, item_a: Column, df_b: DataFrame, item_b: Column,
    k: int = 256,
) -> DataFrame:
    """Distinct-set algebra from two KMV sketches (Beyer et al. 2007's
    multi-set generalization of Bar-Yossef): one row with
    ``est_distinct_a``, ``est_distinct_b``, ``est_union``,
    ``est_intersection``, ``jaccard_est``.

    min-k(A ∪ B) = min-k of the two min-k unions, and the fraction of
    those combined minima present in BOTH sketches is an unbiased
    estimate of the Jaccard similarity; intersection = jaccard *
    union.  Everything after the two one-pass sketch builds is a join
    of <= k-row frames — the planner's 'how selective is this key
    overlap' question at 100 TB costs two scans, like cms_join_size
    but for DISTINCT keys rather than multiplicity mass."""
    ka = kmv_minima(df_a, item_a, k).select(F.col("h").alias("h"))
    kb = kmv_minima(df_b, item_b, k).select(F.col("h").alias("h"))
    both = ka.select("h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")).unionByName(
        kb.select("h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    ).groupBy("h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    union_k = both.orderBy("h").limit(k)

    def _est(minima):
        return minima.agg(
            F.count(F.lit(1)).cast("int").alias("k_used"),
            F.max("h").alias("kth"),
        ).select(
            F.when(F.col("k_used") < k, F.col("k_used").cast("double"))
            .otherwise(
                (F.lit(float(k - 1)) * F.lit(float(1 << KMV_BITS)))
                / F.col("kth").cast("double")
            ).alias("est")
        )

    est_a = _est(ka).select(F.col("est").alias("est_distinct_a"))
    est_b = _est(kb).select(F.col("est").alias("est_distinct_b"))
    est_u = _est(union_k.select("h")).select(F.col("est").alias("est_union"))
    jac = union_k.agg(
        (
            F.sum((F.col("in_a") * F.col("in_b")).cast("long"))
            / F.count(F.lit(1))
        ).alias("jaccard_est")
    )
    return (
        est_a.crossJoin(est_b).crossJoin(est_u).crossJoin(jac)
        .select(
            "est_distinct_a", "est_distinct_b", "est_union",
            (F.col("jaccard_est") * F.col("est_union"))
            .alias("est_intersection"),
            "jaccard_est",
        )
    )


def join_plan_advice(
    df_a: DataFrame, key_a: Column, df_b: DataFrame, key_b: Column,
    k: int = 256, w: int = 1024, d: int = 3,
    broadcast_threshold_rows: int = 1_000_000,
) -> DataFrame:
    """Sketch-driven join planning in one row: row counts, distinct
    key estimates (KMV), join-size estimate (CMS inner product),
    average fan-out, and a ``strategy`` recommendation
    ('broadcast_a' / 'broadcast_b' / 'shuffle' / 'shuffle_salted') —
    the pre-flight a 100 TB pipeline runs INSTEAD of discovering an
    explosive join at hour three.  Cost: one map-side-combined pass
    per side for each sketch (the passes share the scan via column
    reuse when cached); every estimate join is sketch-bounded.
    Skew flag: max single-key CMS estimate >> rows/distinct means a
    hot key — recommend salting (operators/skew.py)."""
    n_a = df_a.agg(F.count(F.lit(1)).alias("rows_a"))
    n_b = df_b.agg(F.count(F.lit(1)).alias("rows_b"))
    sets = kmv_set_estimates(df_a, key_a, df_b, key_b, k)
    js = cms_join_size(
        cms_build(df_a, key_a, w, d), cms_build(df_b, key_b, w, d), d
    )
    row = (
        n_a.crossJoin(n_b).crossJoin(sets).crossJoin(js)
        .withColumn(
            "fanout",
            F.col("est_join_size")
            / F.greatest(F.col("est_intersection"), F.lit(1.0)),
        )
    )
    return row.withColumn(
        "strategy",
        F.when(F.col("rows_a") <= broadcast_threshold_rows, "broadcast_a")
        .when(F.col("rows_b") <= broadcast_threshold_rows, "broadcast_b")
        .when(
            F.col("fanout")
            > F.lit(100.0)
            * F.greatest(F.col("rows_a"), F.col("rows_b"))
            / F.greatest(F.col("est_union"), F.lit(1.0)),
            "shuffle_salted",
        )
        .otherwise("shuffle"),
    )


def chain_join_order(
    joins: list[tuple[str, DataFrame, Column, DataFrame, Column]],
    w: int = 1024,
    d: int = 3,
) -> DataFrame:
    """Join-ORDER advice for a chain query from Count-Min sketches: for
    each named adjacent join ``(name, df_left, key_left, df_right,
    key_right)`` estimate its output cardinality (cms_join_size), and
    emit ONE row with every ``est_<name>`` plus ``plan`` — the join
    names ordered cheapest-intermediate-first ('>'-joined, ties by
    name).  This is the System-R greedy step a 100 TB pipeline runs
    BEFORE submitting a multi-join query: each estimate costs one
    map-side-combined sketch pass per side and a d*w-bounded sketch
    join, never a trial execution, and the ordering decision (which
    join to materialize first / which intermediate stays small enough
    to broadcast) falls out of arithmetic on one driver-sized row.
    Deterministic md5 bucketing keeps the whole advisor
    oracle-checkable (the q_join_size_estimate contract, extended to
    the ordering decision)."""
    if not joins:
        raise ValueError("chain_join_order needs at least one join")
    names = [name for name, *_ in joins]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate join names: {names}")
    row = None
    for name, dl, kl, dr, kr in joins:
        est = cms_join_size(
            cms_build(dl, kl, w, d), cms_build(dr, kr, w, d), d
        ).select(F.col("est_join_size").alias(f"est_{name}"))
        row = est if row is None else row.crossJoin(F.broadcast(est))
    order = F.array_sort(
        F.array(*[
            F.struct(
                F.col(f"est_{name}").alias("est"), F.lit(name).alias("nm")
            )
            for name, *_ in joins
        ])
    )
    return row.select(
        *[f"est_{name}" for name, *_ in joins],
        F.concat_ws(
            ">", F.transform(order, lambda x: x["nm"])
        ).alias("plan"),
    )
