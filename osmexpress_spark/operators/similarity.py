"""Embedding similarity search: brute-force top-k (baseline) and
LSH-bucketed ANN (scale path).

Cosine is a pure column expression — zip_with product + sequential
double fold — so the scan side stays JVM-vectorized with no Python in
the loop. For oracle parity the similarity is rounded to 6 decimals
before ranking (double fold order may differ across engines at ~1e-13;
rounding absorbs it) and ranks tie-break on candidate id.

Scale shapes:
- brute force: |Q| x |C| with Q broadcast — right for small query sets
  or as the verifier stage; cost is one scan of C per batch of queries.
- bucketed: both sides hash to sign-buckets of D deterministic
  pseudo-hyperplanes; the join is bucket-equi, touching only
  candidates in the query's bucket (~|C| / 2^D). The hyperplanes are
  derived from (dim_index, plane_index) arithmetic — no RNG, no model
  state to ship, deterministic across engines for the oracle.
- at real 100 TB scale the same plan applies with the bucket table
  pre-partitioned by bucket id (shuffle-free probes); an IVF variant
  substitutes learned centroids for the hyperplanes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import lineage


def dot(a: Column, b: Column) -> Column:
    """Sequential double fold of the element products."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    return F.round(dot(a, b) / (norm(a) * norm(b)), decimals)


def topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """(query_id, neighbor_id, rank): exact top-k by cosine, queries
    broadcast across the candidate scan."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nn_k: int = 4,
    margin_threshold: float = 1.0,
    mutual: bool = True,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    CCMatrix ratio margin): for every (src, tgt) pair, margin =
    cos(x,y) / ((mean of x's nn_k best cosines + mean of y's nn_k
    best) / 2) — the score that separates true translations from
    hubs that are merely close to everything.  Returns (src_id,
    tgt_id, sim6, margin) for each src's best-margin target above the
    threshold; mutual=True keeps only pairs that are ALSO the best
    margin for the target (the intersect strategy).

    Exactness: cosines land as integer micro-units (sim6 =
    round(cos * 1e6) after the engine-portable 6-decimal rounding),
    neighborhood sums are exact BIGINTs, and the margin is ONE IEEE
    division of exact integers (2 * nn_k * sim6 / (nns + nnt)) — so
    ranking and threshold decisions are bit-identical across engines.
    Both sides must carry at least nn_k counterparts or the mean is
    over a short neighborhood (the caller's contract).

    Scale shape: the exact baseline broadcasts the smaller side across
    the other's scan (the topk_bruteforce/hard_negatives pattern) and
    ranks with windows partitioned per id; at corpus scale compose the
    candidate generation with the pruned searchers (topk_ivf with
    nprobe, the hard_negatives_ivf move) and feed the SAME margin
    arithmetic."""
    s = src.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("sv"))
    t_ = tgt.select(F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("tv"))
    scored = t_.crossJoin(F.broadcast(s)).select(
        "src_id",
        "tgt_id",
        F.round(cosine(F.col("sv"), F.col("tv")) * F.lit(1e6))
        .cast("long")
        .alias("sim6"),
    )
    ws = Window.partitionBy("src_id").orderBy(
        F.col("sim6").desc(), F.col("tgt_id")
    )
    wt = Window.partitionBy("tgt_id").orderBy(
        F.col("sim6").desc(), F.col("src_id")
    )
    ranked = scored.withColumn(
        "r_s", F.row_number().over(ws)
    ).withColumn("r_t", F.row_number().over(wt))
    nns = (
        ranked.where(F.col("r_s") <= nn_k)
        .groupBy("src_id")
        .agg(F.sum("sim6").alias("nns"))
    )
    nnt = (
        ranked.where(F.col("r_t") <= nn_k)
        .groupBy("tgt_id")
        .agg(F.sum("sim6").alias("nnt"))
    )
    with_m = (
        scored.join(F.broadcast(nns), "src_id")
        .join(F.broadcast(nnt), "tgt_id")
        .withColumn(
            "margin",
            (F.lit(float(2 * nn_k)) * F.col("sim6"))
            / (F.col("nns") + F.col("nnt")).cast("double"),
        )
    )
    wm_s = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("sim6").desc(), F.col("tgt_id")
    )
    wm_t = Window.partitionBy("tgt_id").orderBy(
        F.col("margin").desc(), F.col("sim6").desc(), F.col("src_id")
    )
    best = (
        with_m.withColumn("m_s", F.row_number().over(wm_s))
        .withColumn("m_t", F.row_number().over(wm_t))
        .where(
            (F.col("m_s") == 1) & (F.col("margin") > margin_threshold)
        )
    )
    if mutual:
        best = best.where(F.col("m_t") == 1)
    return best.select("src_id", "tgt_id", "sim6", "margin")


N_PLANES = 4


def plane_weight(i: int, k: int) -> int:
    """Deterministic pseudo-hyperplane weight for dimension i, plane k."""
    return 1 if (i * 7 + k * 13) % 3 < 2 else -1


def _plane_projections(vec: Column, dim: int, n_planes: int) -> list[Column]:
    """Rounded hyperplane projections — the ONE definition shared by
    the sign-bucket id and the multi-probe flip ranking, so the two
    sides of the bucket equi-join can never drift apart."""
    return [
        F.round(
            dot(vec, F.array(*[F.lit(float(plane_weight(i, k))) for i in range(dim)])),
            6,
        )
        for k in range(n_planes)
    ]


def _bucket_of(projs: list[Column]) -> Column:
    bucket = F.lit(0)
    for k, pk in enumerate(projs):
        bucket = bucket + F.when(pk > 0, F.lit(1 << k)).otherwise(F.lit(0))
    return bucket


def lsh_bucket(vec: Column, dim: int, n_planes: int = N_PLANES) -> Column:
    """Sign-bucket id in [0, 2^n_planes): bit k = (vec . plane_k) > 0.
    Projections rounded to 6 before the sign test (fold-order safety)."""
    return _bucket_of(_plane_projections(vec, dim, n_planes))


def lsh_probe_buckets(
    vec: Column, dim: int, n_planes: int = N_PLANES, probes: int = 1
) -> Column:
    """Multi-probe bucket list (Lv et al. 2007): the home bucket plus
    the buckets reached by flipping the planes with the SMALLEST
    absolute projection (the hyperplanes the point sits closest to —
    where its true neighbors most likely fell on the other side).
    `probes` = total buckets returned, CAPPED at n_planes + 1 (the
    home bucket plus one single-bit flip per plane; deeper probe
    sequences would need multi-bit flips). 1 = exact single-bucket
    hashing. Pure column expression; projections computed once and
    shared between the sign test and the flip ranking (the same
    _plane_projections that lsh_bucket uses, so the candidate side's
    bucket id can never drift from the probe side's)."""
    projs = _plane_projections(vec, dim, n_planes)
    bucket = _bucket_of(projs)
    if probes <= 1:
        return F.array(bucket)
    flips = F.array(
        *[
            F.struct(
                F.abs(pk).alias("a"),
                F.lit(k).alias("k"),
                bucket.bitwiseXOR(F.lit(1 << k)).alias("b"),
            )
            for k, pk in enumerate(projs)
        ]
    )
    nearest = F.slice(
        F.transform(F.array_sort(flips), lambda st: st["b"]),
        1,
        min(probes - 1, len(projs)),
    )
    return F.concat(F.array(bucket), nearest)


def _apply_sim_band(
    scored: DataFrame, sim_lo: float | None, sim_hi: float | None
) -> DataFrame:
    """Optional similarity band ``(sim_lo, sim_hi]`` applied INSIDE a
    searcher's scored stage (the hard_negatives composition, VERDICT
    r06 #4): the filter runs where pruning has already bounded the
    candidates, so banded mining costs exactly what the searcher's
    probe configuration costs — never a post-filter of an unbanded
    top-k, which would miss every band member outside it."""
    if sim_lo is not None and sim_hi is not None and not sim_lo < sim_hi:
        raise ValueError("sim band: need sim_lo < sim_hi")
    if sim_lo is not None:
        scored = scored.where(F.col("sim") > F.lit(sim_lo))
    if sim_hi is not None:
        scored = scored.where(F.col("sim") <= F.lit(sim_hi))
    return scored


def _bucketed_scored(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    n_planes: int,
    probes: int,
) -> DataFrame:
    """LSH-pruned scored stage: (query_id, neighbor_id, sim) for every
    candidate sharing a probed bucket with the query."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            lsh_probe_buckets(F.col(vec_col), dim, n_planes, probes)
        ).alias("bucket"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    return (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("sim")
        )
    )


def topk_bucketed(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = N_PLANES,
    probes: int = 1,
    sim_lo: float | None = None,
    sim_hi: float | None = None,
) -> DataFrame:
    """ANN top-k restricted to the query's LSH bucket(s) — the
    candidate set shrinks ~2^n_planes-fold; recall is traded for a
    bucket-equi join that scales linearly. `probes > 1` enables
    multi-probe (lsh_probe_buckets): the QUERY side fans out to its
    nearest flip buckets (probe-factor rows on the tiny broadcast
    side only — the candidate scan is untouched), recovering most of
    the recall a single bucket loses. probes=1 is the oracle-checked
    contract configuration.

    ``sim_lo``/``sim_hi`` band the scored stage to ``(sim_lo, sim_hi]``
    BEFORE the top-k (the hard_negatives composition): band members
    are found only in probed buckets, so recall vs the brute-force
    band rises with ``probes`` — banding by similarity needs MORE
    probes than nearest-neighbor search at the same recall because
    band members sit farther from the query's own bucket (see
    ann_curve.py's banded rows)."""
    scored = _apply_sim_band(
        _bucketed_scored(
            queries, candidates, dim, id_col, vec_col, n_planes, probes
        ),
        sim_lo,
        sim_hi,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_dedup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Embedding near-duplicate pairs: same LSH bucket AND cosine >=
    threshold. The bucket join bounds the pair blowup."""
    b = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    a = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket"
    )
    c = b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket"
    )
    return (
        a.join(c, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("sim")
        )
        .where(F.col("sim") >= threshold)
    )


# --- IVF (inverted-file) ANN: the 100 TB scale path -----------------------
#
# Coarse k-means quantizer: candidates are assigned to their nearest
# centroid (one "inverted list" per centroid = one partition-prunable
# join key); a query probes only its nprobe nearest centroids. Training
# is a couple of Lloyd iterations where the assignment step runs
# DISTRIBUTED (argmax-of-dots column expression, whole-stage codegen)
# and only the per-cluster means (n_centroids x dim doubles) come back
# to the driver. Deterministic: seeding takes the n_centroids
# lowest-id vectors, means are rounded to 6 decimals per iteration.


def _matrix_lit(rows: list[list[float]]) -> Column:
    """array<array<double>> literal built as ONE parsed SQL expression.

    Per-element F.lit() costs a py4j round trip each — n_centroids x dim
    = 1024 of them take ~0.9 s to BUILD and ~3x longer to analyze than
    a single parsed expr (measured). repr(float) round-trips exactly,
    'D' pins the double type."""
    body = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in r) + ")" for r in rows
    )
    return F.expr(f"array({body})")


def _vector_lit(v: list[float]) -> Column:
    return F.expr("array(" + ",".join(f"{float(x)!r}D" for x in v) + ")")


def _centroid_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of dot(vec, centroid_k) for every centroid.

    One transform over a centroid-matrix literal, NOT n_centroids
    unrolled dot expressions: the unrolled form is an
    n_centroids x dim expression tree that blows past the JIT method
    limit and runs interpreted (measured ~6x slower end-to-end at
    n_centroids=16, dim=64)."""
    return F.transform(
        _matrix_lit(centroids), lambda c: F.round(dot(vec, c), 6)
    )


def _argmax(scores: Column) -> Column:
    # array_position is 1-based; ties resolve to the lowest index
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _probe_cids(vec: Column, cents: list[list[float]], nprobe: int) -> Column:
    """array<int> of the query's nprobe highest-dot centroid ids —
    score DESC with ties to the HIGHER cid (reverse(array_sort)),
    mirrored exactly by every probe oracle. One definition shared by
    all four probe paths so a tie-break change cannot fork them."""
    scores = _centroid_scores(vec, cents)
    ranked = F.slice(
        F.reverse(
            F.array_sort(
                F.arrays_zip(
                    scores.alias("s"),
                    F.sequence(F.lit(0), F.lit(len(cents) - 1)).alias("i"),
                )
            )
        ),
        1,
        nprobe,
    )
    return F.transform(ranked, lambda x: x["i"])


def _adc_score(
    codes: Column, qv: Column, books: list[list[list[float]]]
) -> Column:
    """Asymmetric-distance score: sum_j dot(q_sub_j, books[j][code_j]),
    UNROUNDED (callers round to 6 before ranking). One definition
    shared by every PQ search path — the formula and its left-to-right
    fold order are part of the oracle parity contract."""
    m = len(books)
    dsub = len(books[0][0])
    blit = _books_lit(books)
    return F.aggregate(
        F.zip_with(
            codes,
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda code, j: dot(
                F.slice(qv, j * dsub + 1, F.lit(dsub)),
                F.element_at(F.element_at(blit, j + 1), code + 1),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_sample(
    candidates: DataFrame,
    limit: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The shared deterministic training sample: the `limit` lowest-id
    vectors as a float64 ndarray. Both trainers consume an id-sorted
    head, so call this once and hand the array to ivf_train AND
    pq_train — otherwise each runs its own corpus-wide TakeOrdered
    collect for the identical rows."""
    import numpy as np

    return np.array(
        [
            [float(x) for x in r[0]]
            for r in candidates.orderBy(id_col)
            .select(vec_col)
            .limit(limit)
            .collect()
        ],
        dtype=np.float64,
    )


def ivf_train(
    candidates: DataFrame,
    dim: int,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int | None = None,
    sample=None,
) -> list[list[float]]:
    """Lloyd iterations over a bounded deterministic sample (the
    n_centroids*64 lowest-id vectors by default); returns the trained
    centroids (n_centroids x dim doubles — KBs, broadcast into
    expressions). A coarse quantizer never needs the full corpus:
    training cost stays constant as the candidate set grows, which is
    the point at 100 TB — only the ASSIGNMENT scan is corpus-sized,
    and it runs once, distributed, at index-build time. Pass `sample`
    (from train_sample) when also training PQ on the same candidates
    to share the one TakeOrdered collect."""
    import numpy as np

    train_limit = train_limit or n_centroids * 64
    if sample is None:
        sample = train_sample(candidates, train_limit, id_col, vec_col)
    else:
        sample = sample[:train_limit]
    cents = sample[:n_centroids].copy()
    for _ in range(iters):
        # Lloyd step in numpy — the sample is already driver-side, and a
        # Spark job per iteration would pay plan codegen (new centroid
        # literals each pass) for microseconds of arithmetic.
        cids = np.argmax(np.round(sample @ cents.T, 6), axis=1)
        for c in range(n_centroids):
            members = sample[cids == c]
            if len(members):  # empty clusters keep their old center
                cents[c] = members.mean(axis=0)
        cents = np.round(cents, 6)
    return [[float(x) for x in c] for c in cents]


def _ivf_scored(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    nprobe: int,
    iters: int,
) -> DataFrame:
    """IVF-pruned scored stage: (query_id, neighbor_id, sim) for every
    candidate in one of the query's nprobe probed lists."""
    cents = ivf_train(candidates, dim, n_centroids, iters, id_col, vec_col)
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _argmax(_centroid_scores(F.col(vec_col), cents)).alias("cid"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(_probe_cids(F.col(vec_col), cents, nprobe)).alias("cid"),
    )
    return (
        c.join(F.broadcast(q), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )


def topk_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 2,
    iters: int = 2,
    sim_lo: float | None = None,
    sim_hi: float | None = None,
) -> DataFrame:
    """ANN top-k probing the query's nprobe nearest inverted lists.
    Scan cost ~ nprobe/n_centroids of brute force; at real scale the
    candidate side is written bucketed by cid so the probe join is
    shuffle-free on the big side.

    ``sim_lo``/``sim_hi`` band the scored stage to ``(sim_lo, sim_hi]``
    before the top-k (the hard_negatives composition): with
    ``nprobe == n_centroids`` pruning is a no-op and the banded result
    equals brute-force hard_negatives exactly; at smaller nprobe the
    band trades recall for the probe bound — band members live farther
    from the query's nearest lists than its top-k neighbors do, so
    budget MORE probes for mining than for search (ann_curve.py
    publishes the banded recall curve)."""
    scored = _apply_sim_band(
        _ivf_scored(
            queries, candidates, dim, id_col, vec_col,
            n_centroids, nprobe, iters,
        ),
        sim_lo,
        sim_hi,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# --------------------------------------------------------------------------
# On-disk inverted-file layout — the 100 TB probe path. topk_ivf above
# assigns cids inline, so every search re-scans and re-quantizes the
# whole corpus. The indexed form does that ONCE at build time and makes
# nprobe pruning physical: the lists live in parquet PARTITIONED BY
# cid, so a probe reads nprobe/n_centroids of the files (static
# partition pruning — visible as PartitionFilters in the scan), not
# just nprobe/n_centroids of the rows.


def ivf_build_index(
    candidates: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """One corpus-sized assignment scan writes the inverted lists
    (parquet, partitionBy cid) plus a centroids.json sidecar. Returns
    the centroids. Rebuild cadence is the caller's policy — the coarse
    quantizer tolerates stale centroids (recall degrades gradually;
    assignments stay consistent because probes use the SAVED centroids,
    never retrained ones)."""
    import json
    import os

    cents = ivf_train(candidates, dim, n_centroids, iters, id_col, vec_col)
    (
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            _argmax(_centroid_scores(F.col(vec_col), cents)).alias("cid"),
        )
        .write.partitionBy("cid")
        .mode("overwrite")
        .parquet(os.path.join(path, "lists"))
    )
    with open(os.path.join(path, "centroids.json"), "w") as f:
        json.dump({"dim": dim, "n_centroids": n_centroids, "centroids": cents}, f)
    return cents


def topk_ivf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_lo: float | None = None,
    sim_hi: float | None = None,
) -> DataFrame:
    """Probe a built index: the query set's probe cids are collected
    (|Q| x nprobe ints — queries are broadcast-sized by assumption, the
    same bound topk_ivf already relies on) and pushed as a LITERAL cid
    filter, so Catalyst prunes non-probed list partitions at planning
    time; no corpus re-quantization, no full scan. Output matches
    topk_ivf given the same build parameters.

    ``sim_lo``/``sim_hi`` band the scored stage exactly as on topk_ivf
    (the hard_negatives composition on the PHYSICAL index layout):
    the band filter composes with the partition pruning, so banded
    mining over a built index reads only the probed list files."""
    import json
    import os

    with open(os.path.join(path, "centroids.json")) as f:
        meta = json.load(f)
    cents = meta["centroids"]

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(_probe_cids(F.col(vec_col), cents, nprobe)).alias("cid"),
    ).localCheckpoint(eager=True)  # probed twice: cid collect + join

    probe_cids = sorted({r["cid"] for r in q.select("cid").distinct().collect()})
    lists = spark.read.parquet(os.path.join(path, "lists")).where(
        F.col("cid").isin(probe_cids)
    )
    scored = (
        lists.join(F.broadcast(q), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    scored = _apply_sim_band(scored, sim_lo, sim_hi)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# --- scalar quantization (int8 compression for 100 TB vector stores) -------
def quantize(vec: Column, bits: int = 8, scale: Column | None = None) -> Column:
    """Per-vector symmetric scalar quantization: q_i = round_half_up(
    x_i / scale) with scale = max|x| / (2^(bits-1) - 1), as int codes.

    Pure column expression (transform + array_max), no Python. The
    round is floor(x/scale + 0.5) — identical semantics in Spark and
    ANSI SQL (ROUND differs: Spark HALF_UP vs DuckDB HALF_EVEN).
    All arithmetic in float64 from exact float32 casts, so codes are
    engine-identical. An all-zero vector quantizes to zeros via the
    1e-30 scale floor (no CASE needed).

    PERF: pass `scale` as a pre-projected COLUMN when quantizing at
    corpus scale. Higher-order lambdas evaluate every embedded subtree
    per ELEMENT (they bypass codegen subexpression elimination), so an
    inline scale recomputes array_max dim times per row — dim× the
    work. The query wrappers project quantize_scale first and feed the
    column in."""
    if scale is None:
        scale = quantize_scale(vec, bits)
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int")
    )


def quantize_scale(vec: Column, bits: int = 8) -> Column:
    qmax = (1 << (bits - 1)) - 1
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.greatest(amax, F.lit(1e-30)) / F.lit(float(qmax))


def _with_codes(
    df: DataFrame, id_col: str, vec_col: str, bits: int,
    out_id: str, codes: str, scale: str,
) -> DataFrame:
    """(id, codes, scale) with the scale projected FIRST so the code
    lambda reads it as a column (once per row, not per element)."""
    pre = df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias("__v"),
        quantize_scale(F.col(vec_col), bits).alias(scale),
    )
    return pre.select(
        out_id,
        quantize(F.col("__v"), bits, scale=F.col(scale)).alias(codes),
        scale,
    )


def topk_quantized(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
) -> DataFrame:
    """Top-k by approximate inner product over int8 codes:
    sim ≈ scale_q * scale_c * (q_codes · c_codes).

    This is the memory-tier ANN path: at 100 TB the float32 corpus is
    4 bytes/dim; int8 codes are 1 — the candidate scan reads 1/4 the
    bytes and the dot product is integer SIMD. The integer dot is
    EXACT cross-engine; only the final scale product is float (rounded
    to 6 decimals before ranking, the same absorb-the-fold-noise rule
    as cosine). Queries broadcast across the candidate scan, ranks
    tie-break on id."""
    q = _with_codes(queries, id_col, vec_col, bits, "query_id", "qq", "qs")
    c = _with_codes(candidates, id_col, vec_col, bits, "neighbor_id", "cq", "cs")
    idot = F.aggregate(
        F.zip_with(
            F.col("qq"), F.col("cq"), lambda x, y: (x * y).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("qs") * F.col("cs") * idot.cast("double"), 6).alias(
                "sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def kmeans_assign_step(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    decimals: int = 6,
) -> DataFrame:
    """One Lloyd ASSIGNMENT step with deterministic seeds (the k
    smallest ids): (id, cluster) by nearest squared-L2 centroid.

    The distributed-clustering building block stated declaratively:
    seeds broadcast against the corpus scan, distance is a zip_with
    fold (no Python), argmin via one per-id window. ivf_train composes
    the full iterative loop (numpy mean update on the driver over a
    bounded sample); this single step is the part that runs at corpus
    scale every iteration, and is exactly SQL-expressible for the
    oracle. Distances round to `decimals` before the argmin (absorbs
    float fold-order noise); ties break on centroid id."""
    cent = (
        df.orderBy(F.col(id_col))
        .limit(k)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = df.crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col("cid"),
        F.round(d2, decimals).alias("d2"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("d2"), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col(id_col), F.col("cid").alias("cluster"), F.col("d2"))
    )


KM_MICRO = 1_000_000
KM_OFFSET = 2_000_000  # shifts micro coords nonnegative for x >= -2


def _km_quantize(vec_col: Column) -> Column:
    """Integer-micro quantization of a float vector: floor(x * 1e6) +
    KM_OFFSET per coordinate. floor (not round) because its decision
    boundary sits on integers, where the double product either hits
    exactly (identical IEEE bits -> identical floor on every engine)
    or doesn't — Spark's HALF_UP round vs DuckDB's HALF_EVEN can
    diverge on .5 boundaries, floor cannot. The offset keeps every
    coordinate nonnegative so integer division floors identically
    everywhere; distances are offset-invariant.

    The nonnegativity PRECONDITION (x >= -2, i.e. KM_OFFSET covers the
    coordinate range) is enforced scan-side with the sketch module's
    assert_true idiom: a coordinate below -2 would yield negative
    micros, where driver-side Python // (floor) and DuckDB // (truncate
    toward zero) diverge on centroid means — silently voiding the
    engine-exact claim instead of failing loudly."""

    def checked(q: Column) -> Column:
        return F.when(
            F.assert_true(
                (q >= 0) | q.isNull(),
                "kmeans coordinate < -2: outside the KM_OFFSET range "
                "that keeps quantized micros nonnegative (rescale the "
                "embedding or raise KM_OFFSET)",
            ).isNull(),
            q,
        )

    return F.transform(
        vec_col,
        lambda x: checked(
            F.floor(x.cast("double") * F.lit(float(KM_MICRO))).cast("long")
            + F.lit(KM_OFFSET)
        ),
    )


def kmeans_train_distributed(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    return_centroids: bool = False,
) -> DataFrame | tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Fully-distributed Lloyd training with ENGINE-EXACT arithmetic:
    every iteration assigns the whole corpus and recomputes centroids
    from the whole corpus (vs ivf_train's bounded-sample driver loop —
    use that when a sample suffices; use this when the full corpus
    must vote, e.g. heavily skewed cluster mass).

    Determinism contract: coordinates quantize once to integer micros
    (_km_quantize — floor boundary, nonnegative offset), so squared
    distances, per-cluster coordinate sums, and floor-divided means
    are pure BIGINT arithmetic — order-independent, bit-reproducible,
    and DuckDB-oracle-checkable (float sums would vary with partition
    fold order). Seeds are the k smallest ids; ties in the argmin
    break toward the lower centroid id; a cluster that loses all
    members keeps its previous centroid.

    100 TB shape: centroids are expression LITERALS, so assignment is
    scan-side whole-stage codegen (k*dim subtract-square terms, no
    join, no window) and each iteration is ONE corpus pass: the
    posexplode update agg map-side-combines to <= k*dim partial rows
    per task, and only the k*dim (cluster, dim, sum, cnt) aggregate
    ever reaches the driver. Overflow bound: offset micros <= 3.1e6,
    so coordinate sums stay under 2^63 up to ~3e12 rows per cluster.

    Returns the final assignment (id, cluster) under the trained
    centroids; with return_centroids=True, returns
    (assignments, centroids) where centroids is the bounded
    [(cid, [offset-micro coords])] list (k * dim values — already
    driver-side from the last update aggregate).
    """
    if k < 1 or iters < 0:
        raise ValueError("k must be >= 1 and iters >= 0")
    q = df.select(F.col(id_col), _km_quantize(F.col(vec_col)).alias("qv"))
    seed_rows = q.orderBy(F.col(id_col)).limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"need at least k={k} rows, got {len(seed_rows)}")
    cents: list[tuple[int, list[int]]] = [
        (r[id_col], list(r["qv"])) for r in seed_rows
    ]

    def assigned() -> DataFrame:
        """(id, qv, cluster): scan-side argmin over a centroid MATRIX
        literal — array_min over (d2, cid) structs where each d2 is a
        zip_with/aggregate fold. The fold keeps the generated code a
        LOOP: the k*dim unrolled subtract-square expression this
        replaced compiled ~15s of codegen per action and risked the
        JIT method limit (the round-1 expression-size rule)."""
        cent_mat = F.array(
            *[
                F.struct(
                    F.lit(cid).cast("long").alias("cid"),
                    F.array(*[F.lit(v).cast("long") for v in cv]).alias("cv"),
                )
                for cid, cv in cents
            ]
        )
        scored = F.transform(
            cent_mat,
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("qv"),
                        c.getField("cv"),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                c.getField("cid").alias("cid"),
            ),
        )
        best = F.array_min(scored)
        return q.select(
            F.col(id_col), F.col("qv"), best.getField("cid").alias("cluster")
        )

    for _ in range(iters):
        sums = (
            assigned()
            .select("cluster", F.posexplode("qv").alias("j", "v"))
            .groupBy("cluster", "j")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], {})[r["j"]] = (r["s"], r["n"])
        cents = [
            (
                cid,
                [by_cluster[cid][j][0] // by_cluster[cid][j][1] for j in range(dim)]
                if cid in by_cluster
                else old,
            )
            for cid, old in cents
        ]
    out = assigned().select(F.col(id_col), F.col("cluster"))
    if return_centroids:
        return out, [(cid, list(cv)) for cid, cv in cents]
    return out


def semantic_dedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    threshold: float = 0.95,
    iters: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the coarse k-means
    quantizer, then within each cluster drop every item whose cosine
    to the cluster REPRESENTATIVE meets the threshold. Representative
    = the member most similar to its centroid (ties -> lowest id), the
    paper's "keep one exemplar per semantic neighborhood" reduced to a
    deterministic, oracle-checkable contract.

    Returns (id, cid, rep_id, rep_sim, keep): rep_sim is cosine to the
    representative rounded to 6 decimals, keep is true for the
    representative itself and for members below the threshold.

    100 TB shape: centroids are expression literals (no join for the
    assignment — the scan stays whole-stage codegen); representative
    election is a map-side-combined groupBy producing n_centroids rows
    that broadcast back. The corpus is scanned twice and shuffled only
    into the tiny agg — never pairwise. Contrast cosine_dedup_pairs
    (LSH buckets, near-exact at high thresholds): semantic dedup
    catches paraphrase-level duplicates that share no surface text at
    the cost of centroid training (driver-side, constant in corpus
    size — see ivf_train)."""
    import math

    cents = ivf_train(df, dim, n_centroids, iters, id_col, vec_col)
    # centroid norms precomputed as literals: cosine-to-centroid reuses
    # the assignment's dot array instead of re-materializing the
    # n_centroids x dim centroid literal per row (measured ~2x on the
    # whole query at sf0.1)
    norm_lit = _vector_lit([math.sqrt(sum(x * x for x in c)) for c in cents])
    cent_lit = _matrix_lit(cents)
    raw = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.transform(cent_lit, lambda c: dot(F.col(vec_col), c)).alias("ds"),
    )
    withcid = raw.select(
        "id",
        "v",
        "ds",
        _argmax(F.transform(F.col("ds"), lambda s: F.round(s, 6))).alias(
            "cid"
        ),
    )
    assigned = withcid.select(
        "id",
        "v",
        "cid",
        F.round(
            F.element_at(F.col("ds"), F.col("cid") + 1)
            / (norm(F.col("v")) * F.element_at(norm_lit, F.col("cid") + 1)),
            6,
        ).alias("simc"),
    )
    reps = assigned.groupBy("cid").agg(
        F.max_by(
            F.struct(F.col("id").alias("rep_id"), F.col("v").alias("rv")),
            # unique ordering key: max simc, then lowest id
            F.struct(F.col("simc"), (-F.col("id")).alias("neg")),
        ).alias("rep")
    ).select("cid", "rep.rep_id", "rep.rv")
    return (
        assigned.join(F.broadcast(reps), "cid")
        .withColumn("rep_sim", cosine(F.col("v"), F.col("rv")))
        .select(
            "id",
            "cid",
            "rep_id",
            "rep_sim",
            (
                (F.col("id") == F.col("rep_id"))
                | (F.col("rep_sim") < F.lit(float(threshold)))
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization (Jegou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"). Splits the D-dim vector into m subvectors
# and learns an independent ksub-codeword codebook per subspace; a
# vector compresses to m small codes (here one byte each — ksub<=256).
# At 100 TB this is the memory-tier below int8 scalar quantization:
# 64 float32 dims (256 B) become 8 code bytes (32x), and search is
# asymmetric-distance (ADC) — the query stays exact, candidates are
# reconstructed per-subspace via codebook lookup, so the candidate
# scan reads 1/32 of the bytes. Training follows ivf_train's
# determinism contract (bounded lowest-id sample, seeded from the
# sample head, 6-decimal rounding every iteration) so the whole
# pipeline unrolls into oracle SQL.


def pq_train(
    candidates: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int | None = None,
    sample=None,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd (squared-L2 assignment, ties -> lowest code)
    over the train_limit lowest-id vectors; returns codebooks[j][c] =
    dsub-dim centroid. Deterministic end-to-end: seeds are the first
    ksub subvectors of the id-sorted sample, every distance and every
    updated center rounds to 6 decimals — same contract as ivf_train,
    so the oracle replays training as SQL CTEs. Pass `sample` (from
    train_sample) when also training IVF on the same candidates."""
    import numpy as np

    assert dim % m == 0, "dim must divide evenly into m subspaces"
    dsub = dim // m
    train_limit = train_limit or ksub * 64
    if sample is None:
        sample = train_sample(candidates, train_limit, id_col, vec_col)
    else:
        sample = sample[:train_limit]
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        cents = sub[:ksub].copy()
        for _ in range(iters):
            d2 = np.round(
                ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6
            )
            codes = np.argmin(d2, axis=1)  # first occurrence = lowest code
            for c in range(ksub):
                members = sub[codes == c]
                if len(members):  # empty codewords keep their center
                    cents[c] = members.mean(axis=0)
            cents = np.round(cents, 6)
        books.append([[float(x) for x in c] for c in cents])
    return books


def _books_lit(books: list[list[list[float]]]) -> Column:
    """array<array<array<double>>> literal as ONE parsed expression
    (same py4j-round-trip argument as _matrix_lit)."""
    body = ",".join(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in cw) + ")" for cw in cb
        )
        + ")"
        for cb in books
    )
    return F.expr(f"array({body})")


def _l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codes(vec: Column, books: list[list[list[float]]]) -> Column:
    """array<int> of m codes: per subspace, the argmin-L2 codeword
    (distances rounded to 6 decimals, ties -> lowest code). The
    subvectors are sliced ONCE into an array and zip_with pairs them
    with the codebook literal, so each codeword distance reads its
    slice from the paired lambda variable instead of re-slicing."""
    m = len(books)
    dsub = len(books[0][0])
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(vec, j * dsub + 1, dsub),
    )
    # the distance array materializes ONCE per subspace as the outer
    # transform's lambda variable; array_position and array_min then
    # read that array instead of re-running the ksub L2 folds (the
    # inlined form evaluated every distance twice — the same
    # per-element-lambda pitfall quantize() documents)
    d2ss = F.zip_with(
        subs,
        _books_lit(books),
        lambda sub, cb: F.transform(cb, lambda cw: F.round(_l2(sub, cw), 6)),
    )
    return F.transform(
        d2ss,
        lambda d2s: (
            F.array_position(d2s, F.array_min(d2s)) - 1
        ).cast("int"),
    )


def pq_codes_df(
    df: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — the stored representation. Pure column expression:
    the encode scan is whole-stage codegen, nothing shuffles."""
    return df.select(
        F.col(id_col), pq_codes(F.col(vec_col), books).alias("codes")
    )


def topk_pq(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
) -> DataFrame:
    """ADC top-k: exact query subvectors against codebook-reconstructed
    candidates. score = sum_j dot(q_sub_j, books[j][code_j]), rounded
    to 6 decimals before ranking (the cosine fold-noise rule); ranks
    tie-break on candidate id. Queries broadcast across the candidate
    scan — the big side never shuffles, and at deployment the codes
    column is precomputed (pq_codes_df) so the scan reads m bytes per
    row instead of the float vector."""
    books = pq_train(candidates, dim, m, ksub, iters, id_col, vec_col)
    c = pq_codes_df(candidates, books, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    adc = _adc_score(F.col("codes"), F.col("qv"), books)
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(adc, 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def topk_ivfpq(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
) -> DataFrame:
    """IVF coarse partitioning + PQ-compressed inverted lists — the
    IVFADC layout of Jegou et al. 2011 §IV without residual encoding
    (codes quantize the raw vector; residual codebooks would couple PQ
    training to the coarse assignment and break the independent
    deterministic-training contract both oracles rely on).

    This is the production 100 TB ANN shape: the coarse quantizer
    prunes the scan to nprobe/n_centroids of the corpus (file-level
    with the ivf_build_index layout), and each probed list is read as
    m code bytes per row instead of the float vector — the two
    reductions compose multiplicatively. Scoring is ADC: exact query
    subvectors against codebook lookups, rounded to 6 before ranking,
    id tie-breaks."""
    sample = train_sample(
        candidates, max(n_centroids, ksub) * 64, id_col, vec_col
    )
    cents = ivf_train(
        candidates, dim, n_centroids, iters, id_col, vec_col, sample=sample
    )
    books = pq_train(
        candidates, dim, m, ksub, iters, id_col, vec_col, sample=sample
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        _argmax(_centroid_scores(F.col(vec_col), cents)).alias("cid"),
        pq_codes(F.col(vec_col), books).alias("codes"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(_probe_cids(F.col(vec_col), cents, nprobe)).alias("cid"),
    )
    adc = _adc_score(F.col("codes"), F.col("qv"), books)
    scored = (
        c.join(F.broadcast(q), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(adc, 6).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivfpq_build_index(
    candidates: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
    nprobe_default: int = 4,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The on-disk composed layout: inverted lists parquet-partitioned
    by cid storing ONLY (neighbor_id, codes) — m code bytes per row
    instead of the float vector — plus a model.json sidecar with both
    the coarse centroids and the PQ codebooks. One corpus scan assigns
    and encodes; probes partition-prune AND read 1/32 of the bytes per
    surviving row. This is the index a 100 TB deployment ships."""
    import json
    import os

    sample = train_sample(
        candidates, max(n_centroids, ksub) * 64, id_col, vec_col
    )
    cents = ivf_train(
        candidates, dim, n_centroids, iters, id_col, vec_col, sample=sample
    )
    books = pq_train(
        candidates, dim, m, ksub, iters, id_col, vec_col, sample=sample
    )
    (
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            pq_codes(F.col(vec_col), books).alias("codes"),
            _argmax(_centroid_scores(F.col(vec_col), cents)).alias("cid"),
        )
        .write.partitionBy("cid")
        .mode("overwrite")
        .parquet(os.path.join(path, "lists"))
    )
    with open(os.path.join(path, "model.json"), "w") as f:
        json.dump(
            {
                "dim": dim,
                "n_centroids": n_centroids,
                "nprobe_default": nprobe_default,
                "m": m,
                "ksub": ksub,
                "centroids": cents,
                "books": books,
            },
            f,
        )


def topk_ivfpq_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the composed index: literal cid IN-filter prunes list
    partitions at planning time (PartitionFilters in the scan), ADC
    scores the surviving code rows against the saved codebooks.
    Produces exactly topk_ivfpq's rows given the same build
    parameters."""
    import json
    import os

    with open(os.path.join(path, "model.json")) as f:
        meta = json.load(f)
    cents = meta["centroids"]
    books = meta["books"]
    m = meta["m"]
    dsub = meta["dim"] // m
    nprobe = nprobe or meta["nprobe_default"]

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(_probe_cids(F.col(vec_col), cents, nprobe)).alias("cid"),
    ).localCheckpoint(eager=True)  # probed twice: cid collect + join

    probe_cids = sorted({r["cid"] for r in q.select("cid").distinct().collect()})
    lists = spark.read.parquet(os.path.join(path, "lists")).where(
        F.col("cid").isin(probe_cids)
    )
    adc = _adc_score(F.col("codes"), F.col("qv"), books)
    scored = (
        lists.join(F.broadcast(q), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(adc, 6).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def topk_ivfpq_rerank(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    rerank: int = 20,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    sim_lo: float | None = None,
    sim_hi: float | None = None,
) -> DataFrame:
    """Two-stage search, the standard recall-recovery pattern over a
    compressed index: stage 1 takes the ADC top-`rerank` from the
    IVF+PQ scan (cheap, approximate), stage 2 re-scores ONLY those
    candidates against their exact float vectors and returns the
    cosine top-k. At 100 TB stage 2 touches rerank*|Q| rows — a point
    lookup against the primary store, not a scan — so the exact
    vectors never stream through the search; recall approaches brute
    force while scan cost stays at the compressed tier's.

    ``sim_lo``/``sim_hi`` band the EXACT rerank stage (never the ADC
    stage — quantized sims would misclassify borderline band members;
    the band is a semantic cut, so it must see true cosines). The
    shortlist itself stays unbanded ADC top-`rerank`, which makes this
    the WRONG searcher for deep bands like hard negatives: a band well
    below the top is mostly outside any top-`rerank`. Use it only for
    bands near the top (e.g. near-dup screens); mine negatives with
    banded topk_ivf/topk_bucketed or hard_negatives_ivf instead."""
    shortlist = topk_ivfpq(
        queries, candidates, dim, id_col, vec_col,
        k=rerank, n_centroids=n_centroids, nprobe=nprobe,
        m=m, ksub=ksub, iters=iters,
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    exact = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    exact = _apply_sim_band(exact, sim_lo, sim_hi)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivfpq_append(
    path: str,
    new_candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign + encode NEW vectors with
    the SAVED model (model.json) and append them to their cid
    partitions — no retraining, no rewrite of existing lists. This is
    the production cadence: the coarse quantizer tolerates stale
    centroids (recall degrades gradually as the distribution drifts;
    see ivf_build_index), so ingest appends ride along until a
    scheduled rebuild. Append cost is one scan of the NEW rows only;
    probes see the union immediately because partition listing is
    dynamic."""
    import json
    import os

    with open(os.path.join(path, "model.json")) as f:
        meta = json.load(f)
    cents = meta["centroids"]
    books = meta["books"]
    (
        new_candidates.select(
            F.col(id_col).alias("neighbor_id"),
            pq_codes(F.col(vec_col), books).alias("codes"),
            _argmax(_centroid_scores(F.col(vec_col), cents)).alias("cid"),
        )
        .write.partitionBy("cid")
        .mode("append")
        .parquet(os.path.join(path, "lists"))
    )


def ann_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Recall report of an approximate top-k against the exact top-k:
    (query_id, n_exact, n_overlap) — recall@k is the rational
    n_overlap / n_exact (emitted as numerator/denominator per the
    no-rounded-rational rule). Both inputs are (query_id, neighbor_id
    [, rank]) result frames, so any pair of this module's searchers
    (brute force vs LSH / IVF / PQ / IVFPQ) can be compared.

    Scale shape: result sets are k rows per query by construction, so
    the join is tiny regardless of corpus size — evaluation costs the
    two searches, not the comparison."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    return (
        e.join(a, ["query_id", "neighbor_id"], "left_outer")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("int")
            .alias("n_overlap"),
        )
    )


def kcenter_select(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    return_centers: bool = False,
) -> DataFrame | tuple[DataFrame, list[tuple[int, int, int]]]:
    """Greedy farthest-point k-center selection (Gonzalez 1985, a
    2-approximation of the k-center optimum): the coreset/diversity
    picker — choose k maximally spread exemplars, then report every
    vector's nearest exemplar. Where SemDeDup REMOVES redundancy and
    DSIR reweights toward a target, this SELECTS a small cover:
    eval-set seeding, annotation budgets, prototype browsing.

    Determinism contract (the kmeans_train_distributed idiom):
    coordinates quantize once to integer micros (_km_quantize), so
    every distance is a pure BIGINT squared-L2 — order-independent and
    DuckDB-oracle-checkable. The seed is the smallest id; each round
    picks max min-distance with ties toward the smaller id; the final
    assignment breaks distance ties toward the earlier-selected center
    (lower rank).

    100 TB shape: the selected centers live as an expression LITERAL
    (<= k*dim longs), so each of the k rounds is ONE scan-side codegen
    pass over the corpus ending in TakeOrdered(1) — no join, no
    window, no shuffle beyond the k-row top-1; driver state is k ids +
    k quantized vectors. Cost model: k SEQUENTIAL Spark jobs, i.e.
    k full corpus scans — greedy farthest-point is inherently
    iterative, so this is for small k (coreset picking, eval-set
    seeding, annotation budgets), not k in the thousands; for large k
    use kmeans_train_distributed + per-cluster exemplars instead. Overflow: offset micros <= ~3.1e6, so a
    squared diff is < 1e13 and a dim-64 sum < 2^50.

    Returns the assignment ``(id, center, d2)``; with
    ``return_centers=True``, also the bounded selection trace
    ``[(rank, center_id, d2_at_selection)]`` (the d2 sequence is
    non-increasing — each value is the covering radius before that
    center was added; the seed's is 0 by convention).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # NULL-id guard (ADVICE r06): Spark sorts NULLs first ascending, so
    # a NULL id would become the seed and the later ~isin(sel_ids)
    # filter would null-poison every subsequent round — fail loudly at
    # the seed scan instead (the shards._checked_shard idiom).
    checked_id = F.when(
        F.col(id_col).isNull(),
        F.raise_error(
            F.lit(f"kcenter_select: NULL id (id_col={id_col!r})")
        ).cast(df.schema[id_col].dataType),
    ).otherwise(F.col(id_col))
    q = df.select(
        checked_id.alias(id_col), _km_quantize(F.col(vec_col)).alias("qv")
    )
    seed = q.orderBy(F.col(id_col)).limit(1).collect()
    if not seed:
        raise ValueError("kcenter_select: empty input")
    centers: list[tuple[int, int, list[int], int]] = [
        (0, seed[0][id_col], list(seed[0]["qv"]), 0)
    ]

    def _best() -> Column:
        """(d2, rank, cid) of the nearest selected center — min over a
        center-matrix literal, each d2 a zip_with/aggregate fold (the
        kmeans codegen-loop rule: never unroll k*dim terms)."""
        cent_mat = F.array(
            *[
                F.struct(
                    F.lit(rank).cast("long").alias("rank"),
                    F.lit(cid).cast("long").alias("cid"),
                    F.array(*[F.lit(v).cast("long") for v in cv]).alias(
                        "cv"
                    ),
                )
                for rank, cid, cv, _ in centers
            ]
        )
        scored = F.transform(
            cent_mat,
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("qv"),
                        c.getField("cv"),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                c.getField("rank").alias("rank"),
                c.getField("cid").alias("cid"),
            ),
        )
        return F.array_min(scored)

    # r11 optimization: the greedy loop is INCREMENTAL.  Round r used
    # to re-quantize the corpus and re-fold distances to ALL r selected
    # centers from the raw scan (O(k^2 * dim) interpreted-lambda work,
    # k parquet passes); instead carry best = struct(d2, rank, cid) —
    # the nearest selected center so far — in a lazily-checkpointed
    # frame and fold ONLY the newest center per round.  least() over
    # the struct is the same lexicographic (d2, rank, cid) minimum the
    # old array_min computed, so every pick, tie-break, and the final
    # assignment are bit-identical (oracle re-verified); _best() above
    # remains the one-shot spelling of the same contract.
    def _d2_to(cv: list[int]) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.array(*[F.lit(v).cast("long") for v in cv]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def _with_center(cur: DataFrame, rank: int, cid: int,
                     cv: list[int]) -> DataFrame:
        newb = F.struct(
            _d2_to(cv).alias("d2"),
            F.lit(rank).cast("long").alias("rank"),
            F.lit(cid).cast("long").alias("cid"),
        )
        folded = cur.select(
            F.col(id_col),
            F.col("qv"),
            (newb if "best" not in cur.columns
             else F.least(F.col("best"), newb)).alias("best"),
        )
        # lazy cut: materializes inside the NEXT round's argmax job, so
        # each round stays ONE job reading the previous round's state
        return lineage.cut(folded, eager=False)

    cur = _with_center(q, 0, centers[0][1], centers[0][2])
    # r12 block hygiene (ADVICE r11): each round's collect materializes
    # `cur` (generation r-1); the generation BEFORE it can then never
    # be read again (its successor's blocks carry the folded state), so
    # release it instead of retaining O(k * corpus) superseded block
    # sets while the loop runs.  The two newest generations stay alive:
    # the lazy generation r still reads r-1 when it materializes.
    prev_gen: DataFrame | None = None
    for r in range(1, k):
        sel_ids = [cid for _, cid, _, _ in centers]
        row = (
            cur.where(~F.col(id_col).isin(sel_ids))
            .select(
                F.col(id_col),
                F.col("qv"),
                F.col("best").getField("d2").alias("d2"),
            )
            .orderBy(F.col("d2").desc(), F.col(id_col))
            .limit(1)
            .collect()
        )
        if prev_gen is not None:
            lineage.release(prev_gen)
        prev_gen = cur
        if not row:
            break  # fewer than k rows: the selection IS the corpus
        centers.append((r, row[0][id_col], list(row[0]["qv"]), row[0]["d2"]))
        cur = _with_center(cur, r, row[0][id_col], list(row[0]["qv"]))

    assign = cur.select(
        F.col(id_col),
        F.col("best").getField("cid").alias("center"),
        F.col("best").getField("d2").alias("d2"),
    )
    if return_centers:
        return assign, [(rank, cid, d2) for rank, cid, _, d2 in centers]
    return assign


def embedding_drift_census(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Vector-space drift census between two corpus snapshots:
    ``(bucket, old_n, new_n)`` where bucket is a shared coarse-quantizer
    cell — the embedding-space sibling of sketch.drift_census, and
    sketch.psi_drift consumes this frame unchanged for the PSI scalar.

    The quantizer is anchored in the OLD snapshot (seeds = its k
    smallest ids): today's corpus must be binned in yesterday's
    geometry, or the census measures quantizer movement, not data
    movement. Distances are BIGINT squared-L2 over floor-quantized
    micros (the kmeans idiom), ties toward the lower seed id — the
    whole census is engine-exact.

    Scale shape: one scan per snapshot, assignment scan-side over a
    k*dim centroid literal (no join), census map-side-combines to <= k
    rows per side; the join compares two k-row frames. Every seed cell
    contains at least its own seed row on the old side, so all k
    buckets appear."""
    qo = old.select(F.col(id_col), _km_quantize(F.col(vec_col)).alias("qv"))
    qn = new.select(F.col(id_col), _km_quantize(F.col(vec_col)).alias("qv"))
    seed_rows = qo.orderBy(F.col(id_col)).limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(
            f"embedding_drift_census: old snapshot has {len(seed_rows)} "
            f"rows, need k={k} seeds"
        )
    cents = [(r[id_col], list(r["qv"])) for r in seed_rows]
    cent_mat = F.array(
        *[
            F.struct(
                F.lit(cid).cast("long").alias("cid"),
                F.array(*[F.lit(v).cast("long") for v in cv]).alias("cv"),
            )
            for cid, cv in cents
        ]
    )
    scored = F.transform(
        cent_mat,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("qv"),
                    c.getField("cv"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c.getField("cid").alias("cid"),
        ),
    )
    bucket = F.array_min(scored).getField("cid").alias("bucket")

    def census(q: DataFrame, out: str) -> DataFrame:
        return (
            q.select(bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )

    return (
        census(qo, "old_n")
        .join(census(qn, "new_n"), "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("old_n", F.lit(0)).alias("old_n"),
            F.coalesce("new_n", F.lit(0)).alias("new_n"),
        )
    )


def hard_negatives(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lo: float = 0.1,
    hi: float = 0.3,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most similar candidates whose cosine lies in ``(lo, hi]`` —
    near enough to be informative, capped below the near-duplicate
    line so the "negative" is actually negative (a near-dup labeled
    negative poisons the contrastive loss; the hi cutoff is the same
    threshold semantic_dedup removes at).

    Returns (query_id, neighbor_id, sim, neg_rank); sim is the rounded
    cosine (the cosine() 6-decimal contract). This brute-force form is
    the exact baseline and the oracle target; at 100 TB use
    hard_negatives_ivf (or topk_ivf/topk_bucketed's sim_lo/sim_hi),
    which applies this band inside the pruned searchers' scored stage
    — NOT a post-filter of a plain top-k (band members need not be in
    the unfiltered top-k)."""
    if not lo < hi:
        raise ValueError("hard_negatives: need lo < hi")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("sim"),
        )
        .where((F.col("sim") > F.lit(lo)) & (F.col("sim") <= F.lit(hi)))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
        .select("query_id", "neighbor_id", "sim", "neg_rank")
    )


def hard_negatives_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lo: float = 0.1,
    hi: float = 0.3,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
) -> DataFrame:
    """hard_negatives at scale (VERDICT r06 #4): the same ``(lo, hi]``
    band and output contract, but the candidates come from the query's
    nprobe probed IVF lists instead of a broadcast cross join — scan
    cost drops to ~nprobe/n_centroids of brute force and nothing is
    ever corpus x anchors.

    The band runs INSIDE the probed scored stage (_ivf_scored +
    _apply_sim_band), so pruning bounds the work and the band sees
    exact cosines. Equivalence contract: with nprobe == n_centroids
    the result is bit-identical to hard_negatives (pruning is a
    no-op; tested); at smaller nprobe recall against the brute-force
    band falls off FASTER than nearest-neighbor recall at the same
    nprobe, because band members sit in lists farther from the query —
    pick nprobe from ann_curve.py's banded rows, not its top-k rows.

    Returns (query_id, neighbor_id, sim, neg_rank)."""
    if not lo < hi:
        raise ValueError("hard_negatives_ivf: need lo < hi")
    scored = _apply_sim_band(
        _ivf_scored(
            queries, candidates, dim, id_col, vec_col,
            n_centroids, nprobe, iters,
        ),
        lo,
        hi,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
        .select("query_id", "neighbor_id", "sim", "neg_rank")
    )


def _micros(vec_col: Column) -> Column:
    """Offset-free integer-micro quantization (floor(x * 1e6) per
    coordinate — the _km_quantize formula without the nonnegativity
    shift, which second-moment sums neither need nor want: an offset
    would contaminate every cross term)."""
    return F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") * F.lit(float(KM_MICRO))).cast(
            "long"
        ),
    )


def embedding_gram(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact second-moment (gram) matrix of the quantized embedding
    corpus: one row per coordinate pair ``(i, j)`` with ``i <= j`` —
    ``gram = sum_rows q_i * q_j`` over floor-micro integers, plus the
    row count ``n``. dim*(dim+1)/2 output rows, engine-exact: products
    accumulate as DECIMAL(38,0) so 1e11 rows of 1e13-sized products
    cannot overflow (BIGINT would saturate near 1e6 rows).

    This is the input statistic for covariance/PCA (pca_project
    derives C = (G - s s^T / n) / n driver-side over these bounded
    rows): the corpus-sized work is ONE scan whose per-row cost is the
    inherent dim^2/2 products, map-side-combined to at most 2,080
    partial rows per task — nothing corpus-sized shuffles, and the
    whole statistic is DuckDB-oracle-checkable (q_embedding_gram).
    """
    # r12 (guide §4.2, VERDICT r11 #4 A/B): the r11 form built
    # dim*(dim+1)/2 interpreted structs per row and exploded them
    # (2,080 decimal rows/doc) into the aggregate; lambda HOFs never
    # enter whole-stage codegen, so per-row cost was the plan's wall.
    # The A/B (OPTIMIZATION_r12.md §10, results identical row-for-row):
    # mapInArrow + integer numpy matmul is ~equal at sf0.1 (0.84 vs
    # 0.96 s warm) and 10x at 32x rows (0.7 vs 7.3 s) — each Arrow
    # batch emits ONE 2,080-row int partial (better-than-map-side
    # combine), and only the quantized int64 vectors cross the Python
    # boundary.  Exactness: integer matmul partials regroup integer
    # addition (associative — bit-exact); batches are chunked so no
    # int64 partial can overflow, and the final sum stays
    # DECIMAL(38,0).  Rows must carry non-null dim-length vectors (the
    # operator's contract; every gate fixture does): rows that are null
    # or of another length are dropped, a null element raises.
    q = df.select(_micros(F.col(vec_col)).alias("q")).where(
        F.col("q").isNotNull() & (F.size("q") == dim)
    )

    def _partials(batches):
        import numpy as np
        import pyarrow as pa

        iu = np.triu_indices(dim)
        i_arr = pa.array(iu[0].astype("int32"))
        j_arr = pa.array(iu[1].astype("int32"))
        for batch in batches:
            values = batch.column(0).flatten()
            if values.null_count:
                # numpy would turn each null into INT64_MIN
                raise ValueError(
                    "embedding_gram needs every row to be a non-null, "
                    f"{dim}-length vector of non-null elements"
                )
            flat = np.asarray(values, dtype=np.int64)
            m = flat.reshape(-1, dim)
            if not m.shape[0]:
                continue
            # chunk so |q|max^2 * rows stays clear of int64 overflow
            amax = int(np.abs(m).max()) or 1
            step = max(1, (1 << 62) // (amax * amax))
            for lo in range(0, m.shape[0], step):
                part = m[lo:lo + step]
                g = part.T @ part  # int64 matmul: exact
                yield pa.RecordBatch.from_arrays(
                    [
                        i_arr,
                        j_arr,
                        pa.array(
                            g[iu].astype(object),
                            type=pa.decimal128(38, 0),
                        ),
                        pa.array(
                            np.full(
                                len(iu[0]), part.shape[0], dtype="int64"
                            )
                        ),
                    ],
                    ["i", "j", "p", "n"],
                )

    return (
        q.mapInArrow(_partials, "i int, j int, p decimal(38,0), n long")
        .groupBy("i", "j")
        .agg(
            F.sum("p").cast("decimal(38,0)").alias("gram"),
            # coalesce keeps count()'s non-nullable schema bit
            F.coalesce(F.sum("n"), F.lit(0).cast("bigint")).alias("n"),
        )
    )


def pca_project(
    df: DataFrame,
    dim: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_basis: bool = False,
) -> DataFrame | tuple[DataFrame, list[list[float]], list[float]]:
    """Distributed PCA by exact accumulation + driver eigensolve: the
    corpus contributes ONE gram pass (embedding_gram) and one
    coordinate-sum pass (both bounded, integer/decimal-exact); the
    dim x dim covariance eigendecomposition runs driver-side in numpy
    (dim is model-sized, never corpus-sized); the projection onto the
    top-k components is a scan-side zip_with fold against the basis
    LITERAL — the kmeans codegen rule, no join, no shuffle, no Python
    in the projection plan.

    Determinism: the accumulated moments are exact integers, and each
    eigenvector's sign is fixed by convention (largest-|coordinate|
    entry positive), so reruns project identically. Components order
    by descending eigenvalue; ties (rare, exact-degenerate spectra)
    fall back to numpy's ascending-eigh order reversed.

    The training-pipeline uses: embedding whitening/decorrelation
    before PQ (OPQ's cheap cousin), dim reduction before ANN index
    build, drift diagnosis in principal-component space. Returns
    (id, proj array<double>); with return_basis, also the basis
    [k][dim] and eigenvalues [k] (micro^2 units)."""
    import numpy as np

    if not 1 <= k <= dim:
        raise ValueError("pca_project: need 1 <= k <= dim")
    gram_rows = embedding_gram(df, dim, vec_col).collect()
    if not gram_rows:
        raise ValueError("pca_project: empty input")
    n = gram_rows[0]["n"]
    sums_rows = (
        df.select(
            F.posexplode(_micros(F.col(vec_col))).alias("i", "x")
        )
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
        .collect()
    )
    s = np.zeros(dim)
    for r in sums_rows:
        s[r["i"]] = float(r["s"])
    g = np.zeros((dim, dim))
    for r in gram_rows:
        g[r["i"], r["j"]] = g[r["j"], r["i"]] = float(r["gram"])
    cov = (g - np.outer(s, s) / n) / n
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    basis = []
    eigenvalues = []
    for idx in order:
        v = evecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        basis.append([float(x) for x in v])
        eigenvalues.append(float(evals[idx]))
    mean = [float(x) / n / KM_MICRO for x in s]
    basis_lit = F.array(
        *[
            F.array(*[F.lit(x) for x in comp])
            for comp in basis
        ]
    )
    mean_lit = F.array(*[F.lit(x) for x in mean])
    centered = F.zip_with(
        F.col(vec_col), mean_lit, lambda x, m: x.cast("double") - m
    )
    proj = F.transform(
        basis_lit,
        lambda comp: F.aggregate(
            F.zip_with(centered, comp, lambda x, b: x * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    out = df.select(F.col(id_col), proj.alias("proj"))
    if return_basis:
        return out, basis, eigenvalues
    return out
