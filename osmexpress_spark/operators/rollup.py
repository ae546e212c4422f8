"""Pre-aggregated rollup store for append-heavy event streams.

The hypertable-rollup pattern, and the OSMExpress analog of keeping a
derived index beside the primary store so reads never rescan the
planet (the reference maintains cell->id index tables next to the
entity tables for exactly this reason — src/storage.cpp's index
column families): aggregate ONCE at write time into mergeable
per-grain partials, then answer every range/group query from the
partials alone.

At 100 TB the raw event log is the thing a dashboard must never
rescan.  The store holds |grains x keys| rows — bounded by time and
key cardinality, not by event volume — laid out partitioned BY the
grain column so a date-range query prunes to exactly the touched
directories (partition pruning, plan-asserted in the suite).  Every
partial is mergeable (count / sum / min / max over exact integer
cents), so:

- any coarser grouping or grain is a tiny second aggregate over the
  partials (never the raw log);
- an append-only ingest (micro-batches, backfills, late data) stays
  correct WITHOUT read-modify-write: appends land as additional
  partial rows for the same (grain, key) and readers fold duplicates
  through the same merge — the shard-manifest merge algebra applied
  to measures (merge(parts) == rollup(union), property-tested).

Measures are exact BIGINT cents (`floor(value * 100)`, the registry's
established integerization), so partials merge associatively with no
float-order sensitivity; the one derived double (avg_value) is a
single IEEE division of two exact integers at read time —
hash-stable in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..store import read_meta, read_parquet, write_meta

GRAINS = {"hour": "hour", "day": "day", "week": "week"}

_PARTIALS = "partials"
_QSKETCH = "qsketch"
_DSKETCH = "dsketch"


def _grain_col(time_col: str, grain: str):
    if grain not in GRAINS:
        raise ValueError(f"grain must be one of {sorted(GRAINS)}, got {grain!r}")
    # date_trunc returns a timestamp for every grain; keep it a
    # timestamp (not a date) so hour grain round-trips and the
    # partition directory value is unambiguous at every grain
    return F.date_trunc(GRAINS[grain], F.col(time_col))


def _cents(value_col: str):
    return F.floor(F.col(value_col) * 100).cast("bigint")


def rollup_partials(
    events: DataFrame,
    time_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
    grain: str = "day",
) -> DataFrame:
    """One pass over the raw events -> mergeable partials per
    (grain bucket, keys): n_events, sum/min/max exact cents.  This is
    the ONLY operator here that touches the raw log; everything else
    reads the partials."""
    key_cols = list(key_cols or [])
    cents = _cents(value_col)
    return (
        events.select(
            _grain_col(time_col, grain).alias("bucket"),
            *[F.col(k) for k in key_cols],
            cents.alias("_cents"),
        )
        .groupBy("bucket", *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_cents").alias("sum_cents"),
            F.min("_cents").alias("min_cents"),
            F.max("_cents").alias("max_cents"),
        )
    )


def save_rollup_store(
    events: DataFrame,
    path: str,
    time_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
    grain: str = "day",
    sketch_bits: int | None = None,
    distinct_col: str | None = None,
    distinct_k: int = 256,
) -> None:
    """Aggregate the raw events once and persist the partials
    partitioned by the grain bucket (directory-per-bucket -> a range
    read prunes to the touched buckets only), plus a meta.json pinning
    the build conventions so a drifted reader raises instead of
    silently merging against wrong keys or a wrong grain.

    With sketch_bits set, a quantile-sketch sidecar lands beside the
    partials: per (bucket, keys) the integer-log bucket counts of the
    NONNEGATIVE cents measure (sketch.quantile_bucket — raises on a
    negative value rather than silently folding it), at most
    1 + 64*2^sketch_bits rows per cell and mergeable by count addition
    exactly like the count/sum partials — so p50/p99-style range
    dashboards also never rescan the raw log (rollup_quantiles).

    With distinct_col set, a KMV distinct-count sidecar lands too: per
    (bucket, keys) the k smallest distinct 48-bit hashes of the
    column.  Min-k of a union is min-k of the per-cell min-ks, so a
    range query merges the pruned cells' minima and answers
    'distinct users this week per type' (rollup_distinct) — exact
    below k distinct values, the standard KMV estimate above —
    completing the dashboard measure set (count/sum/min/max,
    quantiles, distinct) with every measure mergeable."""
    key_cols = list(key_cols or [])
    base = path.rstrip("/")
    partials = rollup_partials(events, time_col, key_cols, value_col, grain)
    (
        partials.withColumn("bucket_part", F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket_part")
        .parquet(base + "/" + _PARTIALS)
    )
    if sketch_bits is not None:
        qs = _qsketch_frame(events, time_col, key_cols, value_col, grain,
                            sketch_bits)
        (
            qs.withColumn("bucket_part", F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket_part")
            .parquet(base + "/" + _QSKETCH)
        )
    if distinct_col is not None:
        ds = _dsketch_frame(events, time_col, key_cols, distinct_col,
                            grain, distinct_k)
        (
            ds.withColumn("bucket_part", F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket_part")
            .parquet(base + "/" + _DSKETCH)
        )
    write_meta(
        events.sparkSession,
        base,
        {
            "time_col": time_col,
            "key_cols": key_cols,
            "value_col": value_col,
            "grain": grain,
            "scale": 100,
            **({"sketch_bits": sketch_bits} if sketch_bits is not None else {}),
            **(
                {"distinct_col": distinct_col, "distinct_k": distinct_k}
                if distinct_col is not None
                else {}
            ),
        },
    )


def _qsketch_frame(
    events: DataFrame,
    time_col: str,
    key_cols: list[str],
    value_col: str,
    grain: str,
    sketch_bits: int,
) -> DataFrame:
    """Per-(bucket, keys) integer-log quantile-bucket counts of the
    cents measure — the sketch sidecar's one-pass build, shared by the
    batch save, the batch append, and the streaming sink."""
    from . import sketch as _sketch

    return (
        events.select(
            _grain_col(time_col, grain).alias("bucket"),
            *[F.col(k) for k in key_cols],
            _cents(value_col).alias("_cents"),
        )
        .where(F.col("_cents").isNotNull())
        .select(
            "bucket",
            *key_cols,
            _sketch.quantile_bucket(
                _sketch._nonneg_checked(F.col("_cents")), sketch_bits
            ).alias("qbucket"),
        )
        .groupBy("bucket", *key_cols, "qbucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _dsketch_frame(
    events: DataFrame,
    time_col: str,
    key_cols: list[str],
    distinct_col: str,
    grain: str,
    k: int,
) -> DataFrame:
    """Per-(bucket, keys) KMV minima of the distinct column: one
    map-side-deduped distinct on (cell, hash), then a rank window
    PARTITIONED BY the cell — parallel across cells, bounded at
    |cells| * k rows.  Shared by the batch save, the batch append,
    and the streaming sink."""
    from pyspark.sql import Window

    from . import sketch as _sketch

    hashes = events.select(
        _grain_col(time_col, grain).alias("bucket"),
        *[F.col(c) for c in key_cols],
        _sketch.hash48(F.col(distinct_col).cast("string")).alias("h"),
    ).distinct()
    win = Window.partitionBy("bucket", *key_cols).orderBy("h")
    return (
        hashes.withColumn("rank", F.row_number().over(win).cast("int"))
        .where(F.col("rank") <= k)
        .select("bucket", *key_cols, "h")
    )


def rollup_distinct(
    spark: SparkSession,
    path: str,
    start: str,
    end: str,
    by: list[str] | None = None,
    grain: str | None = None,
) -> DataFrame:
    """Approximate distinct count of the store's distinct_col over a
    bucket range, FROM THE KMV SIDECAR ALONE: the pruned cells' minima
    union, dedupe, and re-rank to the k smallest per group (min-k of a
    union == min-k of the per-cell min-ks), then the standard
    two-branch estimator answers — EXACT whenever the true distinct
    count is below k, (k-1)*2^48/h_(k) above.  Output (by..., k_used,
    kth_hash, est_distinct); the rank window partitions by the group
    (never global when `by` is set)."""
    from pyspark.sql import Window

    from . import sketch as _sketch

    by = list(by or [])
    base = path.rstrip("/")
    meta = _check_meta(spark, base, grain)
    if meta.get("distinct_col") is None:
        raise ValueError(
            f"rollup store at {base} has no distinct-count sidecar "
            f"(rebuild with distinct_col=)"
        )
    k = meta["distinct_k"]
    pruned = (
        read_parquet(spark, base + "/" + _DSKETCH)
        .where(
            (F.col("bucket_part") >= _bound(start))
            & _end_pred(F.col("bucket_part"), end)
        )
        .drop("bucket_part", "epoch")
    )
    hashes = pruned.select(*by, "h").distinct()
    if by:
        win = Window.partitionBy(*by).orderBy("h")
        minima = (
            hashes.withColumn("rank", F.row_number().over(win).cast("int"))
            .where(F.col("rank") <= k)
        )
    else:
        # global branch: k-smallest via orderBy+limit (TakeOrdered —
        # per-partition top-k then a bounded driver merge), never a
        # single-partition window over the raw minima union (ADVICE
        # r07: a multi-year range over a high-cardinality keyed store
        # would funnel every cell's minima through one task)
        minima = hashes.orderBy("h").limit(k)
    agg = minima.groupBy(*by).agg(
        F.count(F.lit(1)).cast("int").alias("k_used"),
        F.max("h").alias("kth_hash"),
    )
    return agg.select(
        *by,
        "k_used",
        "kth_hash",
        F.when(F.col("k_used") < k, F.col("k_used").cast("double"))
        .otherwise(
            (F.lit(float(k - 1)) * F.lit(float(1 << _sketch.KMV_BITS)))
            / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def rollup_quantiles(
    spark: SparkSession,
    path: str,
    start: str,
    end: str,
    quantiles: list[tuple[int, int]],
    by: list[str] | None = None,
    grain: str | None = None,
) -> DataFrame:
    """Approximate quantiles of the cents measure over a bucket range,
    FROM THE SKETCH SIDECAR ALONE: the pruned per-cell sketches merge
    by count addition (the sketch-merge identity), then the bounded
    cumsum/probe machinery answers each (num, den) quantile with
    [lo, hi] cents bounds (relative error <= 2^-sketch_bits).  With
    `by`, the cumsum partitions per group — never a global window."""
    by = list(by or [])
    base = path.rstrip("/")
    meta = _check_meta(spark, base, grain)
    bits = meta.get("sketch_bits")
    if bits is None:
        raise ValueError(
            f"rollup store at {base} has no quantile sketch sidecar "
            f"(rebuild with sketch_bits=)"
        )
    from . import sketch as _sketch

    pruned = (
        read_parquet(spark, base + "/" + _QSKETCH)
        .where(
            (F.col("bucket_part") >= _bound(start))
            & _end_pred(F.col("bucket_part"), end)
        )
        .drop("bucket_part", "epoch")
    )
    merged = pruned.groupBy(*by, "qbucket").agg(F.sum("cnt").alias("cnt"))
    if not by:
        sk = merged.withColumnRenamed("qbucket", "bucket")
        return _sketch.quantile_sketch_query(sk, quantiles, bits)
    sk = merged.select(
        F.struct(*by).alias("key"),
        F.col("qbucket").alias("bucket"),
        "cnt",
    )
    out = _sketch.quantile_sketch_query_by(sk, quantiles, bits)
    return out.select(
        *[F.col("key").getField(k).alias(k) for k in by],
        "q_num",
        "q_den",
        "rank",
        "bucket",
        "lo",
        "hi",
    )


def _check_meta(spark: SparkSession, base: str, grain: str | None) -> dict:
    return read_meta(spark, base, {} if grain is None else {"grain": grain},
                     "rollup store")


def load_rollup_partials(
    spark: SparkSession, path: str, grain: str | None = None
) -> DataFrame:
    """The persisted partials with the partition columns folded back to
    `bucket` (the stored column survives the round trip; the partition
    copy exists only for directory pruning, and streamed stores carry
    an extra epoch partition for idempotent replay)."""
    base = path.rstrip("/")
    _check_meta(spark, base, grain)
    return (
        read_parquet(spark, base + "/" + _PARTIALS)
        .drop("bucket_part", "epoch")
    )


def _bound(value: str):
    """Strict timestamp bound: a malformed date must raise, not cast
    to NULL and silently return an empty range."""
    import datetime

    try:
        datetime.datetime.fromisoformat(value)
    except ValueError as e:
        raise ValueError(f"rollup range bound {value!r}: {e}") from None
    return F.lit(value).cast("timestamp")


def _end_pred(col, value: str):
    """End-bound predicate at the bound's own textual precision
    (ADVICE r07): a date-only end like '2024-01-14' means "through the
    end of Jan 14" — on an hour-grain store the old inclusive-timestamp
    compare kept only the midnight bucket and silently dropped
    01:00–23:00.  A date-only end therefore becomes the exclusive
    bound `bucket < end + 1 day`; a time-carrying end keeps the exact
    inclusive compare (buckets are grain-truncated, so '... 23:00:00'
    still selects through the 23:00 hour bucket)."""
    import datetime

    try:
        parsed = datetime.datetime.fromisoformat(value)
    except ValueError as e:
        raise ValueError(f"rollup range bound {value!r}: {e}") from None
    date_only = parsed.time() == datetime.time.min and len(value.strip()) <= 10
    if date_only:
        nxt = (parsed + datetime.timedelta(days=1)).isoformat(sep=" ")
        return col < F.lit(nxt).cast("timestamp")
    return col <= F.lit(value).cast("timestamp")


def _pruned_read(
    spark: SparkSession, base: str, start: str, end: str
) -> DataFrame:
    """The shared range read: the [start, end] predicate lands on the
    bucket partition copy (directory-level pruning, plan-asserted in
    the suite); the epoch partition of streamed stores is dropped
    after pruning."""
    return (
        read_parquet(spark, base + "/" + _PARTIALS)
        .where(
            (F.col("bucket_part") >= _bound(start))
            & _end_pred(F.col("bucket_part"), end)
        )
        .drop("bucket_part", "epoch")
    )


def _merge(partials: DataFrame, group: list) -> DataFrame:
    merged = partials.groupBy(*group).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
    )
    return merged.withColumn(
        "avg_value",
        F.col("sum_cents").cast("double")
        / (F.lit(100).cast("bigint") * F.col("n_events")).cast("double"),
    )


def rollup_range(
    spark: SparkSession,
    path: str,
    start: str,
    end: str,
    by: list[str] | None = None,
    grain: str | None = None,
) -> DataFrame:
    """Answer a [start, end] range query grouped by `by` FROM THE
    STORE ALONE.  Bounds compare against bucket timestamps: start is
    inclusive; a date-only end selects through the END of that day
    (so '2024-01-14' on an hour-grain store includes the 01:00–23:00
    buckets — _end_pred), while a time-carrying end is an inclusive
    timestamp compare.  The bucket
    predicate prunes partitions at the directory level (the partition
    copy of the bucket), then the touched partials merge through the
    associative fold.  The raw event log is never read."""
    by = list(by or [])
    base = path.rstrip("/")
    _check_meta(spark, base, grain)
    return _merge(_pruned_read(spark, base, start, end), by)


def rollup_series(
    spark: SparkSession,
    path: str,
    start: str,
    end: str,
    by: list[str] | None = None,
    grain: str | None = None,
) -> DataFrame:
    """The per-bucket time series over a range (same end-bound
    semantics as rollup_range) — same pruned read, the
    bucket kept in the group so an append-heavy store (duplicate
    partial rows per bucket from streaming epochs or backfills) folds
    back to one row per (bucket, keys)."""
    by = list(by or [])
    base = path.rstrip("/")
    _check_meta(spark, base, grain)
    return _merge(_pruned_read(spark, base, start, end), ["bucket", *by])


def merge_rollup_partials(parts: list[DataFrame], by: list[str]) -> DataFrame:
    """The merge algebra on its own: fold any number of partial frames
    (separate stores, streaming epochs, backfill batches) into one
    merged aggregate — merge(parts) == rollup(union of inputs), the
    property the suite pins.  Inputs must share the store schema."""
    if not parts:
        raise ValueError("parts must be non-empty")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return _merge(u, by)


def append_rollup_epoch(
    events: DataFrame,
    path: str,
    grain: str | None = None,
) -> None:
    """Append one ingest batch's partials to an existing store WITHOUT
    read-modify-write: the new rows land beside any prior rows for the
    same (bucket, keys) and every reader folds them through the merge.
    Build conventions come from the store's own meta (pinned at
    save_rollup_store time), so an epoch can never be aggregated with
    drifted keys."""
    base = path.rstrip("/")
    meta = _check_meta(events.sparkSession, base, grain)
    if meta.get("layout") == "epochs":
        raise ValueError(
            f"rollup store at {base} is a streamed (epoch-layout) store; "
            f"append through rollup_stream, not append_rollup_epoch"
        )
    partials = rollup_partials(
        events,
        meta["time_col"],
        meta["key_cols"],
        meta["value_col"],
        meta["grain"],
    )
    (
        partials.withColumn("bucket_part", F.col("bucket"))
        .write.mode("append")
        .partitionBy("bucket_part")
        .parquet(base + "/" + _PARTIALS)
    )
    if meta.get("sketch_bits") is not None:
        # a sketch-carrying store must keep the sidecar in lockstep —
        # a stale sidecar would serve silently wrong quantiles
        qs = _qsketch_frame(
            events, meta["time_col"], meta["key_cols"], meta["value_col"],
            meta["grain"], meta["sketch_bits"],
        )
        (
            qs.withColumn("bucket_part", F.col("bucket"))
            .write.mode("append")
            .partitionBy("bucket_part")
            .parquet(base + "/" + _QSKETCH)
        )
    if meta.get("distinct_col") is not None:
        ds = _dsketch_frame(
            events, meta["time_col"], meta["key_cols"],
            meta["distinct_col"], meta["grain"], meta["distinct_k"],
        )
        (
            ds.withColumn("bucket_part", F.col("bucket"))
            .write.mode("append")
            .partitionBy("bucket_part")
            .parquet(base + "/" + _DSKETCH)
        )


_GRAIN_ORDER = {"hour": 0, "day": 1, "week": 2}


def rollup_regrain(
    spark: SparkSession, path: str, out_path: str, grain: str
) -> None:
    """Derive a coarser-grain store FROM THE PARTIALS ALONE (the
    materialized-view cascade: hour -> day -> week without ever
    re-reading the raw log).  Buckets re-truncate to the coarser
    grain and the partials fold through the same associative merge,
    so the derived store is bit-identical to one built from the raw
    events at that grain — the property the suite pins.  Works on
    batch and streamed (epoch-layout) sources alike; the output is a
    batch-layout store.

    Sidecars cascade too (ADVICE r07 — regrain used to silently drop
    them): both are mergeable across buckets, so the quantile sidecar
    re-truncates its buckets and sums counts (the sketch-merge
    identity) and the KMV sidecar re-ranks the unioned minima to the
    k smallest per coarser bucket (min-k of a union == min-k of the
    per-cell min-ks), and the derived meta keeps the sidecar keys —
    an hour->day->week cascade answers the same p50/p99 and distinct
    dashboards as a store built from the raw events at that grain.
    meta.json is written LAST (after every data directory) so a
    partially-written derived store fails _check_meta instead of
    reading partials against absent meta."""
    base = path.rstrip("/")
    meta = _check_meta(spark, base, None)
    src = meta["grain"]
    if grain not in GRAINS:
        raise ValueError(f"grain must be one of {sorted(GRAINS)}, got {grain!r}")
    if _GRAIN_ORDER[grain] <= _GRAIN_ORDER[src]:
        raise ValueError(
            f"regrain must coarsen: store is {src!r}, requested {grain!r}"
        )
    partials = load_rollup_partials(spark, base)
    key_cols = meta["key_cols"]
    recoarse = F.date_trunc(GRAINS[grain], F.col("bucket"))
    out = (
        partials.withColumn("bucket", recoarse)
        .groupBy("bucket", *key_cols)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
    )
    dest = out_path.rstrip("/")
    (
        out.withColumn("bucket_part", F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket_part")
        .parquet(dest + "/" + _PARTIALS)
    )
    if meta.get("sketch_bits") is not None:
        qs = (
            read_parquet(spark, base + "/" + _QSKETCH)
            .drop("bucket_part", "epoch")
            .withColumn("bucket", recoarse)
            .groupBy("bucket", *key_cols, "qbucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        (
            qs.withColumn("bucket_part", F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket_part")
            .parquet(dest + "/" + _QSKETCH)
        )
    if meta.get("distinct_col") is not None:
        from pyspark.sql import Window

        k = meta["distinct_k"]
        dwin = Window.partitionBy("bucket", *key_cols).orderBy("h")
        ds = (
            read_parquet(spark, base + "/" + _DSKETCH)
            .drop("bucket_part", "epoch")
            .withColumn("bucket", recoarse)
            .select("bucket", *key_cols, "h")
            .distinct()
            .withColumn("rank", F.row_number().over(dwin).cast("int"))
            .where(F.col("rank") <= k)
            .select("bucket", *key_cols, "h")
        )
        (
            ds.withColumn("bucket_part", F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket_part")
            .parquet(dest + "/" + _DSKETCH)
        )
    write_meta(spark, dest, {**{k: meta[k] for k in meta
                                if k not in ("grain", "layout")},
                             "grain": grain})


def rollup_stream(
    events: DataFrame,
    path: str,
    checkpoint: str,
    time_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
    grain: str = "day",
    sketch_bits: int | None = None,
    distinct_col: str | None = None,
    distinct_k: int = 256,
):
    """Continuous-ingest form: each micro-batch aggregates map-side to
    its own partials and lands them under an EPOCH-KEYED partition
    (foreachBatch is at-least-once — a redelivered batch OVERWRITES
    its own epoch directory instead of double-counting), so the store
    read path's fold over duplicate (bucket, keys) rows stays exact
    across restarts.  The first batch pins the build conventions in
    meta.json; every later batch validates the caller's arguments
    against it and raises on drift (the module contract: never
    silently merge under different keys or grain).  A streamed store
    OWNS its layout: streaming into a store created by
    save_rollup_store raises (the two layouts must not mix under one
    partials tree)."""
    key_cols = list(key_cols or [])
    spark = events.sparkSession
    base = path.rstrip("/")
    want = {
        "time_col": time_col,
        "key_cols": key_cols,
        "value_col": value_col,
        "grain": grain,
        "scale": 100,
        "layout": "epochs",
        **({"sketch_bits": sketch_bits} if sketch_bits is not None else {}),
        **(
            {"distinct_col": distinct_col, "distinct_k": distinct_k}
            if distinct_col is not None
            else {}
        ),
    }

    # every key any rollup sidecar holds, so the check is exact: a
    # save_rollup_store store (no "layout") cannot be streamed into
    pinned = dict.fromkeys(("sketch_bits", "distinct_col", "distinct_k")) | want

    def _sink(batch_df: DataFrame, epoch: int) -> None:
        try:
            read_meta(spark, base, pinned, "rollup store")
        except FileNotFoundError:
            write_meta(spark, base, want)
        partials = rollup_partials(
            batch_df, time_col, key_cols, value_col, grain
        )
        (
            partials.withColumn("bucket_part", F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket_part")
            .parquet(f"{base}/{_PARTIALS}/epoch={epoch}")
        )
        if sketch_bits is not None:
            qs = _qsketch_frame(
                batch_df, time_col, key_cols, value_col, grain, sketch_bits
            )
            (
                qs.withColumn("bucket_part", F.col("bucket"))
                .write.mode("overwrite")
                .partitionBy("bucket_part")
                .parquet(f"{base}/{_QSKETCH}/epoch={epoch}")
            )
        if distinct_col is not None:
            ds = _dsketch_frame(
                batch_df, time_col, key_cols, distinct_col, grain, distinct_k
            )
            (
                ds.withColumn("bucket_part", F.col("bucket"))
                .write.mode("overwrite")
                .partitionBy("bucket_part")
                .parquet(f"{base}/{_DSKETCH}/epoch={epoch}")
            )

    return (
        events.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
