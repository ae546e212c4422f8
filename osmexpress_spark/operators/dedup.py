"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shapes (the whole point at 100 TB):
- exact: one hash-aggregate on md5(text) — map-side partial agg, no
  row payload shuffled, only (hash, id) pairs.
- MinHash/LSH: signatures are per-row column expressions (no UDF, no
  shuffle); candidate generation is a self-equi-join on (band_idx,
  band_key) — i.e. only rows sharing a bucket ever meet, the classic
  sub-quadratic near-dup join. Output pairs, not row payloads.
- n-gram Jaccard: exact verifier for candidate pairs (or bucketed
  pairs); array_intersect/union on distinct shingle sets.
- SimHash: 60-bit signature via md5-derived per-token bit votes; the
  candidate join is Manku-style block probing (C(6,3)=20 tables of
  30-bit keys) with an exact bit_count(xor) post-filter, so buckets
  stay tiny at corpus scale and the output is exactly the
  hamming<=d pair set.

MinHash determinism: "permutation" p is the p-th 4-hex-digit slice of
md5(shingle) — ONE md5 per shingle feeds all permutations (8
independent 16-bit hash views; measured ~25% faster than a per-
permutation md5 at sf0.1, and 16 bits of min-hash resolution is ample
for banding). The signature element is the min slice over shingles.
Identical strings on any engine -> identical signatures, so the LSH
pipeline is oracle-testable in DuckDB end-to-end (queries_data.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import lineage
from ..store import read_meta, read_parquet, write_meta


def shingles(text: Column, k: int = 2) -> Column:
    """Distinct word k-shingles as strings ('w1 w2 ... wk').

    Built as k-1 zip_with folds over shifted slices of the word array
    rather than transform(sequence, i -> array_join(slice(ws,i,k))):
    the per-index slice allocates a k-array per element and defeats
    codegen's common-subexpression reuse — measured 4.6x slower at
    sf0.1. zip_with walks the arrays pairwise with zero per-element
    allocation."""
    ws = F.split(text, " ")
    n = F.size(ws)
    m = n - F.lit(k - 1)  # shingle count when n >= k
    acc = F.slice(ws, 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(ws, 1 + j, m),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return F.when(n >= k, F.array_distinct(acc)).otherwise(
        F.array().cast("array<string>")
    )


def minhash_signature(text: Column, n_hashes: int = 8, k: int = 2) -> Column:
    """Array of n_hashes min-hash values over the shingle set
    (permutation p = p-th 4-hex slice of md5, see module docstring).

    Empty-shingle contract (shared with minhash_signatures_df): a doc
    with fewer than k words has NO signature — NULL here, absent from
    the df form's output. Round 1 returned an array of NULLs here
    while the df form dropped the doc; the two advertised-equivalent
    forms now agree."""
    hashes = F.transform(shingles(text, k), F.md5)
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    hashes, lambda m: F.substring(m, 1 + 4 * p, 4)
                )
            )
            for p in range(n_hashes)
        ]
    )
    return F.when(F.size(hashes) > 0, sig)


def minhash_signatures_df(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8, k: int = 2
) -> DataFrame:
    """(id, h0..h{n-1}) via explode + hash-aggregate — the scale shape.

    The pure-column form (`minhash_signature`) nests the shingle
    computation inside every permutation's array_min; at n_hashes=8 the
    expression tree exceeds the JIT method limit, codegen bails to
    interpreted mode, and throughput drops ~10x (measured). Exploding
    shingles once and taking n_hashes vectorized min-aggregates keeps
    everything in WholeStageCodegen with map-side partial aggregation —
    shuffle traffic is one row per document, not per shingle.

    Empty-shingle contract: docs with fewer than k words produce no
    exploded rows and are ABSENT from the output — matching
    minhash_signature's NULL (see its docstring).
    """
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("s")
    ).select(F.col(id_col), F.md5("s").alias("m"))  # ONE md5 per shingle
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.substring("m", 1 + 4 * p, 4)).alias(f"h{p}")
            for p in range(n_hashes)
        ]
    )


def _band_rows(
    sigs: DataFrame, id_col: str, out_name: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(out_name, band_idx, band_key) rows from a signatures frame —
    the ONE definition of the band-key layout (concatenated fixed-width
    4-hex slices), shared by the self-join and incremental LSH passes
    and mirrored by the oracles' _band_selects_sql."""
    keys = F.array(
        *[
            F.concat(
                *[
                    F.col(f"h{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col).alias(out_name),
        F.posexplode(keys).alias("band_idx", "band_key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    k: int = 2,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via banded MinHash LSH.
    One signature pass + one self-join on band buckets.

    `max_bucket_size` is the hot-bucket guard for corpus scale: a band
    bucket holding b docs expands to b²/2 pairs, and mass-duplicated
    boilerplate (the classic web-crawl failure) concentrates exact
    copies into identical signatures across EVERY band. Buckets larger
    than the cap are dropped before the self-join (one extra
    count-aggregate over 8-byte keys), bounding any bucket's output at
    cap²/2. Dropped mass is exact-duplicate-heavy by construction —
    run `exact_dup_groups` first (the standard pipeline order) and the
    cap only sheds pathological collisions. Default None = exact
    contract semantics, which is what the oracle checks."""
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures_df(df, id_col, text_col, n_hashes, k)
    b = _band_rows(sigs, id_col, id_col, bands, rows_per_band)
    if max_bucket_size is not None:
        size = b.groupBy("band_idx", "band_key").agg(
            F.count(F.lit(1)).alias("__bsz")
        )
        b = (
            b.join(size, ["band_idx", "band_key"])
            .where(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    left = b.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    right = b.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    return (
        left.join(right, ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_cols: list[str],
    k: int = 2,
    threshold: float = 0.05,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs within the same
    bucket (blocking columns bound the quadratic term). At scale the
    bucket is the LSH candidate set; here also usable directly with
    metadata blocking (e.g. same source).

    Plan shape: inverted index, not array intersection. Exploding
    distinct shingles and self-joining on (bucket, shingle) computes
    |A∩B| as a pair count in pure hash joins/aggregates; |A∪B| =
    |A|+|B|-|A∩B| from per-doc sizes. The naive bucketed cross-join
    with array_intersect re-walks two ~100-element arrays per pair
    (measured 2x slower at sf0.1 and quadratic in bucket size); the
    inverted index only materializes pairs that share a shingle and is
    the standard 100 TB shape.

    `max_shingle_freq` is the stop-shingle cap: a shingle appearing in
    more than this many docs of one bucket is dropped from the
    inverted index BEFORE the pair expansion, bounding any single
    shingle's contribution to max_freq^2/2 pairs instead of bucket^2/2
    (one ubiquitous boilerplate shingle otherwise quadratically
    explodes its bucket). The capped result is an approximation that
    biases similarity DOWN: capped shingles still count in |A| and |B|
    but can no longer witness an intersection — near-dup pairs sharing
    rarer shingles still surface. Default None keeps exact semantics
    (the oracle-checked configuration)."""
    docs = df.where(F.size(F.split(F.col(text_col), " ")) >= k).select(
        *bucket_cols,
        F.col(id_col),
        shingles(F.col(text_col), k).alias("sh"),
    )
    sizes = docs.select(*bucket_cols, F.col(id_col), F.size("sh").alias("n_sh"))
    # join on the 64-bit shingle hash: 8-byte shuffle keys instead of
    # variable-length strings (collision odds ~n^2/2^64, immaterial)
    inv = docs.select(
        *bucket_cols, F.col(id_col), F.explode("sh").alias("s")
    ).select(*bucket_cols, F.col(id_col), F.xxhash64("s").alias("s"))
    if max_shingle_freq is not None:
        freq = inv.groupBy(*bucket_cols, "s").agg(
            F.count(F.lit(1)).alias("__freq")
        )
        inv = (
            inv.join(freq, [*bucket_cols, "s"])
            .where(F.col("__freq") <= max_shingle_freq)
            .drop("__freq")
        )
    # AQE sees a tiny shuffle (8-byte keys) and coalesces the join to one
    # task, but the join OUTPUT is the expanded pair list — pin the
    # partitioning on the join key so the expansion stays parallel.
    n_part = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    inv = inv.repartition(n_part, *bucket_cols, "s")
    # materialize the inverted index and the per-doc sizes once: both
    # are referenced twice (a/b sides) and Catalyst otherwise
    # replicates the tokenize->shingle->hash subtree per reference
    # (8 scans in the pre-fix q_ngram_jaccard plan).  `inv` is the
    # corpus-tokens proxy (8-byte hash per shingle), `sizes` is
    # doc-count-sized — both the guide's decide-with-small-rows shape.
    inv = lineage.cut(inv)
    sizes = lineage.cut(sizes)
    a = inv.select(*bucket_cols, F.col(id_col).alias("id_a"), "s")
    b = inv.select(*bucket_cols, F.col(id_col).alias("id_b"), "s")
    inter = (
        a.join(b, [*bucket_cols, "s"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("sz_b"))
    with_union = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).alias("n_union"),
        )
    )
    # integer threshold: jaccard >= threshold without float rounding
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    return with_union.where(
        F.col("n_inter") * F.lit(den) >= F.col("n_union") * F.lit(num)
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT global Jaccard similarity join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): every pair with shingle-set Jaccard >= threshold, with NO
    blocking columns and NO LSH false negatives.

    The theorem: order every doc's shingles by one GLOBAL total order
    (document frequency asc, then hash — rarest first) and take the
    prefix of length p = n - ceil(t*n) + 1. If J(x, y) >= t, the
    length filter t*|x| <= |y| <= |x|/t holds, the overlap needs
    I >= t*(|x|+|y|)/(1+t) >= t*max(|x|,|y|), and a pair whose
    prefixes are disjoint has I <= max(ceil(t*|x|), ceil(t*|y|)) - 1
    < I — contradiction. So joining on PREFIX shingles alone finds
    every qualifying pair; the exact array-intersect verify then
    removes false positives. Unlike minhash_lsh_pairs (probabilistic
    recall) and jaccard_pairs (needs blocking columns to bound the
    quadratic term), this is exact AND global.

    Scale shape: the inverted index holds only (1-t)*n + 1 entries per
    doc — the RAREST shingles, whose document frequencies are the
    smallest — so candidate pairs are bounded by sum(prefix-df^2) over
    the rarest tail of the vocabulary, orders of magnitude below the
    full-index join at high thresholds. All heavy stages are hash
    joins/aggregates on 8-byte shingle hashes; the only array walk is
    array_intersect on the (few) verified candidates. Threshold
    compares use the exact integer cross-multiplication
    den*I >= num*(A+B-I), never rounded rationals."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    docs = (
        df.where(F.size(F.split(F.col(text_col), " ")) >= k)
        .select(
            F.col(id_col).alias("id"),
            F.transform(
                shingles(F.col(text_col), k), lambda s: F.xxhash64(s)
            ).alias("sh"),
        )
        .select("id", "sh", F.size("sh").alias("n"))
    )
    # r12 build restructure (guide §2.4/§3.1, phase-measured: the
    # ordered build was the LARGEST warm phase at ~2.1 s of ~4.8 s —
    # tokenization evaluated twice because `inv` fed both the freq
    # aggregate and the join probe, plus a key shuffle of the token
    # stream to attach df_s).  Cut the docs frame FIRST so the
    # interpreted shingle fold (zip_with + array_distinct + xxhash)
    # runs exactly once, and attach document frequencies with a
    # size-guarded broadcast: vocab rows <= token count, so the
    # existing rows/toks sizing action (moved up; it reads the cheap
    # docs cut) bounds the freq table without an extra job.  At corpus
    # scale the token guard fails and the join keeps its shuffle shape.
    docs = lineage.cut(docs)
    stats = docs.select(
        F.count(F.lit(1)).alias("rows"), F.sum("n").alias("toks")
    ).first()
    inv = docs.select("id", "n", F.explode("sh").alias("s"))
    freq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    if (stats["toks"] or 0) * 16 <= 64 * 1024 * 1024:
        freq = F.broadcast(freq)
    # (df asc, hash asc) is the one global total order both the prefix
    # slice and the theorem use; array_sort over the 2-field struct
    # sorts lexicographically, which is exactly that order
    ordered = inv.join(freq, "s").groupBy("id", "n").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("df_s"), F.col("s")))
        ).alias("ord")
    )
    # Materialize the (df, hash)-sorted shingle arrays ONCE: `ordered`
    # is referenced four times downstream (both prefix sides, both
    # verify sides), and Catalyst replicates the whole
    # tokenize->explode->freq-join->collect subtree per reference —
    # the pre-fix q_prefix_filter_pairs plan held 16 parquet scans and
    # 32 Exchanges (plans/r11/q_prefix_filter_pairs_before.txt).  The
    # cut is corpus-tokens-sized (the same bytes the window-dedup
    # signature store persists), spills to executor disk at scale, and
    # turns the plan into: one build pass + hash joins over the
    # materialized arrays.  lineage.cut adds the r12 scale guard
    # (reliable checkpoint past the size threshold when a checkpoint
    # dir is set); once `ordered` is materialized the transient docs
    # cut is released so the operator holds ONE corpus-sized block set.
    ordered = lineage.cut(ordered)
    if lineage.eager_enabled(docs.sparkSession):
        lineage.release(docs)
    ceil_tn = F.floor((F.col("n") * num + (den - 1)) / den)
    # PPJoin+ index reduction (Xiao et al. TODS'11 §5): generate each
    # candidate pair only as (smaller set = index side, larger set =
    # probe side).  The probe side explores the full probe prefix
    # lp = n - ceil(t*n) + 1; the index side needs only the shorter
    # INDEX prefix li = n - ceil(2t/(1+t)*n) + 1.  Exactness: for
    # J(x,y) >= t with |x| <= |y| the required overlap
    # alpha = ceil(t/(1+t)*(|x|+|y|)) satisfies both
    # alpha >= ceil(2t/(1+t)*|x|) (plug |y| >= |x|) and
    # alpha >= ceil(t*|y|) (plug |x| >= t*|y|, the length filter); if
    # P_li(x) and P_lp(y) were disjoint, comparing their boundary
    # tokens in the global order bounds every common token past one
    # prefix end or the other, so I <= max(ceil(2t/(1+t)|x|),
    # ceil(t|y|)) - 1 < alpha — contradiction.  At t=0.8 the index
    # side shrinks from ~0.2n to ~0.111n entries per doc, roughly
    # halving raw candidate generation vs the symmetric join.
    ceil_2tn = F.floor(
        (F.col("n") * (2 * num) + (num + den - 1)) / (num + den)
    )
    prefix = ordered.select(
        "id",
        "n",
        F.slice(
            F.transform("ord", lambda x: x["s"]),
            F.lit(1),
            (F.col("n") - ceil_tn + 1).cast("int"),
        ).alias("pre"),
        (F.col("n") - ceil_2tn + 1).cast("int").alias("li"),
    )
    pr = prefix.select(
        "id", "n", "li", F.posexplode("pre").alias("pos", "s")
    )
    a = pr.where(F.col("pos") < F.col("li")).select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"),
        F.col("pos").alias("pos_a"), "s",
    )
    b = pr.select(
        F.col("id").alias("id_b"), F.col("n").alias("n_b"),
        F.col("pos").alias("pos_b"), "s",
    )
    # positional filter (the PP in PPJoin): a shared prefix token at
    # 0-based positions (pos_a, pos_b) bounds the overlap by itself
    # plus everything after it on the SHORTER remaining side; J >= t
    # needs I*(num+den) >= num*(n_a+n_b), so a pair whose best witness
    # can't reach that is pruned before the distinct — exactness holds
    # because the bound is per-witness and the pair survives through
    # its earliest shared token
    overlap_ub = F.lit(1) + F.least(
        F.col("n_a") - (F.col("pos_a") + 1),
        F.col("n_b") - (F.col("pos_b") + 1),
    )
    cand = (
        a.join(b, "s")
        .where(
            # the index side must be the smaller set (ties by id) so
            # each unordered pair is generated in exactly one
            # direction and the index-prefix lemma applies
            (
                (F.col("n_a") < F.col("n_b"))
                | (
                    (F.col("n_a") == F.col("n_b"))
                    & (F.col("id_a") < F.col("id_b"))
                )
            )
            # length filter: with n_a <= n_b only the upper bound
            # n_b <= n_a/t can still fail
            & (F.col("n_b") * num <= F.col("n_a") * den)
            & (
                overlap_ub * (num + den)
                >= (F.col("n_a") + F.col("n_b")) * num
            )
        )
        # output contract is id_a < id_b; the size-ordered sides are
        # normalized back to id order before the distinct
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    # verify arrays come from the MATERIALIZED `ordered` (zero extra
    # corpus passes); array_intersect is order-insensitive, so the
    # (df, hash)-sorted arrays verify identically.  Join strategy
    # (guide §3.1, picked deliberately): the candidate list is usually
    # MUCH larger than the doc-array table (one row per surviving
    # candidate pair vs one per doc), so when the array table is small
    # enough to broadcast, attaching arrays map-side keeps the fat
    # candidate stream out of two Exchanges entirely.  The sizing
    # numbers come from the rows/toks action already taken on the docs
    # cut during the build (r12: one sizing job, reused for both the
    # freq-broadcast and the arrays-broadcast guard); the estimate
    # (24B overhead + 12B/shingle struct) errs high.
    arrays = ordered.select(
        "id", "n", F.transform("ord", lambda x: x["s"]).alias("sh")
    )
    est_bytes = (stats["rows"] or 0) * 40 + (stats["toks"] or 0) * 12
    broadcast_arrays = est_bytes <= 64 * 1024 * 1024
    if broadcast_arrays:
        arrays = F.broadcast(arrays)
    sh_a = arrays.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
        F.col("n").alias("n_a"),
    )
    sh_b = arrays.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
        F.col("n").alias("n_b"),
    )
    if broadcast_arrays:
        # the candidate stream is thin (two longs/row) but its per-row
        # verify work (array_intersect) is heavy: AQE would coalesce
        # the post-distinct exchange by BYTES down to a couple of
        # partitions and serialize the verify, so pin the fan-out to
        # the session's slots — shuffling the thin pairs is pennies,
        # the map-side broadcast verify then uses every core
        cand = cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism
        )
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            "n_a",
            "n_b",
        )
        .where(
            F.col("n_inter") * den
            >= (F.col("n_a") + F.col("n_b") - F.col("n_inter")) * num
        )
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content hash: (hash, n, keep_id) for
    groups of size > 1; keep_id = min id (the canonical survivor)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("keep_id"))
        .where(F.col("n") > 1)
    )


def contamination_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_common: int = 1,
    bench_id_name: str = "bench_id",
) -> DataFrame:
    """Benchmark decontamination: (corpus doc, benchmark doc, number of
    shared word-k-grams) for every cross pair sharing >= ``min_common``
    shingles — the eval-overlap filter every training-data pipeline
    runs before a corpus ships.

    Plan shape: both sides become inverted indexes on the 64-bit
    shingle hash; the benchmark side (an eval suite — KB..MB, tiny by
    definition) is BROADCAST against the corpus index, so the 100 TB
    corpus is scanned once and never shuffled for the join. The
    per-pair shared-shingle count then aggregates map-side first.
    Self-pairs (a doc that IS a benchmark row, same id) are excluded.
    """
    sh = shingles(F.col(text_col), k)
    corp_inv = (
        corpus.where(F.size(F.split(F.col(text_col), " ")) >= k)
        .select(F.col(id_col), F.explode(sh).alias("s"))
        .select(F.col(id_col), F.xxhash64("s").alias("s"))
    )
    bench_inv = (
        bench.where(F.size(F.split(F.col(text_col), " ")) >= k)
        .select(F.col(id_col).alias(bench_id_name), F.explode(sh).alias("s"))
        .select(F.col(bench_id_name), F.xxhash64("s").alias("s"))
    )
    return (
        corp_inv.join(F.broadcast(bench_inv), "s")
        .where(F.col(id_col) != F.col(bench_id_name))
        .groupBy(id_col, bench_id_name)
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


SIMHASH_BITS = 60  # 15 hex chars of md5 -> one conv() per shingle, fits BIGINT
SIMHASH_BLOCKS = 6  # Manku-style blocks (10 bits each)


def simhash(text: Column, k: int = 1) -> Column:
    """60-bit SimHash as a pure column expression: each distinct shingle
    votes +-1 per bit position (bit j of its md5-derived 60-bit
    integer); sign of the vote sum sets the bit. conv(hex, 16, 10)
    keeps it all JVM-side. Prefer `simhash_df` in pipelines — this
    nests the shingle array inside every bit's fold (fine for a few
    bits in tests, JIT-hostile at 60)."""
    sh = shingles(text, k)
    h = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")  # noqa: E731
    out = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        vote = F.aggregate(
            sh,
            F.lit(0),
            lambda acc, s, j=j: acc
            + F.when(F.shiftright(h(s), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        out = out + F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out.cast("long")


def simhash_df(
    df: DataFrame, id_col: str, text_col: str, k: int = 1
) -> DataFrame:
    """(id, simhash) via explode + 60 bit-vote aggregates (same scale
    rationale as minhash_signatures_df: one md5 per shingle total, not
    one per shingle per bit; map-side partial agg means shuffle traffic
    is one 60-int row per doc, not per shingle). Ties (vote sum 0)
    set the bit to 0 — deterministic, and DuckDB CASE agrees."""
    h = F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long")
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("s")
    ).select(F.col(id_col), h.alias("h"))
    votes = sh.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    out = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        out = out + F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return votes.select(F.col(id_col), out.cast("long").alias("simhash"))


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 1,
    hamming_max: int = 3,
    blocks: int = SIMHASH_BLOCKS,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= hamming_max,
    found sub-quadratically via Manku-style block probing (Manku,
    Jain & Sarma, "Detecting Near-Duplicates for Web Crawling",
    WWW'07 — public).

    The 60-bit signature splits into `blocks` equal blocks; a pair
    within hamming d differs in at most d blocks, so it agrees exactly
    on SOME (blocks-d)-subset of blocks (pigeonhole). Each doc emits
    C(blocks, blocks-d) probe keys — concatenated block values tagged
    with the subset index — and candidates are an equi-join on
    (table_idx, key). With blocks=6, d=3 that is 20 tables of 30-bit
    keys: ~10^9 buckets, so bucket population stays ~n/10^9 even at
    10^9 docs (vs the round-1 16-bit signature whose 65k buckets
    exploded quadratically). The exact bit_count(xor) post-filter
    removes false positives, so the result is EXACTLY the hamming<=d
    pair set — which is what the brute-force DuckDB oracle computes.
    """
    if SIMHASH_BITS % blocks:
        raise ValueError("blocks must divide SIMHASH_BITS")
    w = SIMHASH_BITS // blocks
    mask = (1 << w) - 1
    sig = simhash_df(df, id_col, text_col, k).withColumnRenamed("simhash", "sh")
    block = [
        F.shiftright(F.col("sh"), w * i).bitwiseAND(F.lit(mask))
        for i in range(blocks)
    ]
    from itertools import combinations

    combos = list(combinations(range(blocks), blocks - hamming_max))
    keys = []
    for combo in combos:
        key = F.lit(0).cast("long")
        for i in combo:
            key = key * F.lit(1 << w) + block[i]
        keys.append(key)
    probes = sig.select(
        F.col(id_col),
        "sh",
        F.posexplode(F.array(*keys)).alias("table_idx", "key"),
    )
    a = probes.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), "table_idx", "key"
    )
    b = probes.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "table_idx", "key"
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["table_idx", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(ham <= hamming_max)
        .select("id_a", "id_b", ham.cast("bigint").alias("hamming"))
        .distinct()
    )


DRIVER_CLUSTER_MAX_PAIRS = 1_000_000


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    driver_max_pairs: int | None = DRIVER_CLUSTER_MAX_PAIRS,
) -> DataFrame:
    """Connected components over candidate near-dup pairs: (id,
    cluster_id) for every id that appears in `pairs`, where cluster_id
    is the smallest id in the component. This is the step that turns a
    pair list (minhash_lsh_pairs / simhash_candidates output) into
    dedup decisions: keep cluster_id == id, drop the rest.

    Algorithm: iterative min-label propagation — label(x) starts at x,
    each round takes the min of label(x) and the labels of x's
    neighbors; a driver loop with `localCheckpoint()` per round
    truncates lineage (same pattern as operators/closure.py). Rounds
    needed = component diameter. Near-dup components are near-cliques
    (diameter 2-3), so the loop converges in a handful of shuffle
    rounds even at corpus scale; for adversarial long-chain graphs,
    the alternating large-star/small-star contraction (Kiveris et al.)
    drops the bound to O(log n) rounds — not needed for dedup
    workloads, noted for parity with the literature.

    Scale shape: every round is one equi-join keyed on node id over
    the (bounded) candidate edge list plus a map-side-combinable min
    aggregate; nothing is collected to the driver, and the convergence
    check is a `limit(1)` probe, not a full count.

    Fast path (same design as operators/closure.py): when the pair
    list fits a bounded driver probe (`driver_max_pairs`, one Arrow
    pull), run union-find in Python and ship the labels back as one
    createDataFrame — replacing ~2 jobs/round with 2 jobs total. The
    distributed loop is the 100 TB fallback; candidate-pair lists are
    usually far smaller than the corpus, so both paths matter.
    """
    p2 = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    if driver_max_pairs:
        probe = p2.limit(driver_max_pairs + 1).toPandas()
        if len(probe) <= driver_max_pairs:
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for a, b in zip(probe["src"], probe["dst"]):
                a, b = int(a), int(b)
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min id so the root IS the cluster id
                    lo, hi = min(ra, rb), max(ra, rb)
                    parent[hi] = lo
            rows = sorted((x, find(x)) for x in parent)
            return pairs.sparkSession.createDataFrame(
                rows, "id long, cluster_id long"
            )
    edges = (
        p2.union(p2.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    ).localCheckpoint()
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "lbl")
        )
        new_labels = (
            labels.union(nbr).groupBy("id").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint()
        changed = (
            new_labels.join(
                labels.withColumnRenamed("lbl", "old"), "id"
            )
            .where(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if not changed:
            break
    else:
        # never converged within max_iterations: min-label propagation
        # needs as many rounds as the widest component's eccentricity,
        # so silently returning here would hand back WRONG cluster ids
        import warnings

        warnings.warn(
            f"dup_clusters: label propagation did not converge in "
            f"{max_iterations} iterations — cluster ids are incomplete "
            f"for components wider than that; raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The corpus with near-duplicates removed: for every connected
    component of `pairs`, keep only the smallest id (the cluster
    representative); rows in no component pass through untouched.
    One anti-join against the non-representative id set — the corpus
    table itself never shuffles."""
    drop = dup_clusters(pairs, id_a, id_b).where(
        F.col("id") != F.col("cluster_id")
    ).select(F.col("id").alias(id_col))
    return df.join(drop, id_col, "left_anti")


# --------------------------------------------------------------------------
# Substring-level duplication (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better", arXiv:2107.06499). Document-level
# dedup misses long verbatim passages embedded in otherwise-distinct
# documents; the practical large-scale approximation of the paper's
# suffix array is positional k-gram window hashing — a window repeated
# across >= min_docs documents marks a duplicated span.


def span_hashes(text: Column, k: int = 5) -> Column:
    """Positional word k-gram hashes: element i (0-based) is
    md5('w_i .. w_{i+k-1}'). NOT deduplicated — position identity is
    the point. Same zip_with-fold shape as shingles() (per-index
    slice defeats codegen subexpression reuse, measured 4.6x)."""
    ws = F.split(text, " ")
    n = F.size(ws)
    m = n - F.lit(k - 1)
    acc = F.slice(ws, 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(ws, 1 + j, m),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return F.when(n >= k, F.transform(acc, F.md5)).otherwise(
        F.array().cast("array<string>")
    )


def dedup_span_masks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Merged per-document token ranges covered by cross-document
    duplicate k-gram windows: (doc_id, start_tok, end_tok), end
    exclusive — the ACTIONABLE form of doc_dup_spans (that one scores
    "how duplicated is this doc"; this one tells the trainer exactly
    WHICH tokens to mask or drop, the exact-substring-dedup output of
    Lee et al. arXiv:2107.06499 without the suffix array).

    Plan shape: positional span hashes (posexplode), ONE shuffle on
    the hash carrying (doc_id, pos) occurrence lists out of the
    aggregate (the doc_dup_spans single-shuffle trick — no join back
    against a re-evaluated span stream), then interval merge as an
    island window PARTITIONED BY doc (parallel across docs; a window
    at most document-sized).  Ranges merge when they overlap or touch
    (next_pos <= prev_pos + k), so the output is the minimal set of
    disjoint covered ranges."""
    sp = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(span_hashes(F.col(text_col), k)).alias("pos", "h"),
    )
    occ = (
        sp.groupBy("h")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("occ"))
        .where(
            F.size(
                F.array_distinct(F.expr("transform(occ, o -> o.doc_id)"))
            )
            >= min_docs
        )
    )
    dup_pos = occ.select(F.explode("occ").alias("o")).select(
        F.col("o.doc_id").alias("doc_id"), F.col("o.pos").alias("pos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        dup_pos.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "ni",
            (
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > k)
            ).cast("int"),
        )
        .withColumn("isl", F.sum("ni").over(w))
    )
    return isl.groupBy("doc_id", "isl").agg(
        F.min("pos").cast("int").alias("start_tok"),
        (F.max("pos") + F.lit(k)).cast("int").alias("end_tok"),
    ).select("doc_id", "start_tok", "end_tok")


def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """(h, n_docs, n_occ) for every k-gram window seen in >= min_docs
    distinct documents. One explode + one hash-aggregate: the shuffle
    carries (hash, doc_id) pairs — never text — with map-side partial
    aggregation; at 100 TB this is the linear substring-dedup census
    (the suffix-array equivalent join is superlinear and needs global
    order)."""
    sp = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(span_hashes(F.col(text_col), k)).alias("h"),
    )
    return (
        sp.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def doc_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
    hot_hash_cap: int | None = None,
) -> DataFrame:
    """Per-document duplicated-window counts (doc_id, n_spans,
    n_dup_spans) — the removal signal: n_dup_spans/n_spans is the
    fraction of the document covered by cross-document duplicate
    windows (emitted as exact integers per the no-rounded-rationals
    rule). Two scans of the span stream + one join on the window hash;
    document text itself never shuffles.

    hot_hash_cap closes the one skew exposure of the single-shuffle
    plan: a ubiquitous boilerplate hash concentrates its occurrence
    list in one reducer. With the cap set, a Count-Min sketch over the
    span hashes (one extra bounded pass; the d*w grid is the only
    driver transfer) becomes a SCAN-SIDE occurrence-count upper-bound
    predicate, and any window whose bound exceeds the cap never
    reaches the aggregate at all. The bound only over-counts, so no
    genuinely hot hash can slip through; borderline hashes sharing a
    CMS cell with a hot one may be screened too (they are boilerplate
    neighbors by construction — acceptable for a dedup *signal*).
    Screened windows still count in n_spans, they just cannot count as
    duplicated — the same semantics as pre-screening with
    text.boilerplate_ngrams, but self-contained and cheaper."""
    toks = F.split(F.col(text_col), " ")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0)).alias("n_spans"),
    ).where(F.col("n_spans") > 0)
    sp = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(span_hashes(F.col(text_col), k)).alias("h"),
    )
    if hot_hash_cap is not None:
        if hot_hash_cap < min_docs:
            raise ValueError("hot_hash_cap below min_docs screens everything")
        from . import sketch

        cms_rows = sketch.cms_build(sp, F.col("h")).collect()
        grid = [[0] * 1024 for _ in range(3)]
        for r in cms_rows:
            grid[r["j"]][r["bucket"]] = r["cnt"]
        bs = sketch._cms_buckets(F.col("h"), 1024, 3)
        est = F.least(
            *[
                F.element_at(
                    F.array(*[F.lit(c) for c in grid[j]]), bs[j] + F.lit(1)
                )
                for j in range(3)
            ]
        )
        sp = sp.where(est <= F.lit(hot_hash_cap))
    # ONE evaluation of the span-hash expression and ONE shuffle on h:
    # each hash group carries its occurrence list out of the aggregate,
    # so no second pass joins back against the span stream (the join
    # form re-ran the md5 fold per DAG branch — measured 8.5s -> ~3s at
    # sf0.1). Occurrence lists are the same rows the join would have
    # shuffled; hot_hash_cap (above) bounds the largest possible list
    # scan-side; without it, screen boilerplate up front with
    # text.boilerplate_ngrams at real scale.
    occ = (
        sp.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.collect_list("doc_id").alias("docs"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
    per = (
        occ.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        base.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_spans").cast("int").alias("n_spans"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("int").alias(
                "n_dup_spans"
            ),
        )
    )


# --------------------------------------------------------------------------
# Bloom-pruned decontamination. contamination_pairs broadcasts the
# benchmark inverted index and lets the join discard non-matching
# corpus shingles; at 100 TB the corpus side still materializes every
# (doc_id, shingle_hash) row into the join. A Bloom pre-filter on the
# benchmark shingle set turns that into a scan-side predicate: only
# shingles that MIGHT be benchmark shingles survive the explode, so
# join input shrinks to matches + fpp * non-matches. The filter is a
# pure pruning stage — the broadcast join still verifies exactly, so
# false positives cost work, never correctness, and the result is
# bit-identical to contamination_pairs (same oracle).
#
# The filter itself is deterministic and engine-portable: positions
# are derived from the SAME xxhash64 the inverted index keys on
# (Kirsch-Mitzenmacher double hashing), the bench side's positions are
# computed BY SPARK and collected (KBs — the bench is an eval suite),
# and membership is a column expression over an array<bigint> word
# literal. No RNG, no JVM-private bloom format.


def _bloom_positions(h: Column, nbits: int, n_hashes: int) -> list[Column]:
    """Kirsch-Mitzenmacher probe positions g_i = h1 + i*h2 mod nbits."""
    h1 = F.pmod(h, F.lit(2**31))
    h2 = F.pmod(F.shiftright(h, 31), F.lit(2**31)) * 2 + 1  # odd stride
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(nbits)).cast("int")
        for i in range(n_hashes)
    ]


def bloom_build(keys: DataFrame, key_col: str = "s",
                nbits: int = 1 << 16, n_hashes: int = 2) -> list[int]:
    """Bit-set words (signed 64-bit ints, BIGINT-literal ready) for the
    distinct probe positions of ``keys[key_col]`` (int64 hashes). The
    position computation runs IN SPARK so the build and probe sides
    share hashing exactly; only set-bit positions come to the driver."""
    if nbits <= 0 or nbits % 64:
        raise ValueError(f"nbits must be a positive multiple of 64: {nbits}")
    pos = (
        keys.select(
            F.explode(
                F.array(*_bloom_positions(F.col(key_col), nbits, n_hashes))
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * (nbits // 64)
    for r in pos:
        words[r.p // 64] |= 1 << (r.p % 64)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_might_contain(h: Column, words: list[int],
                        nbits: int = 1 << 16, n_hashes: int = 2) -> Column:
    """AND of the n_hashes bit tests against the word-array literal —
    stays inside whole-stage codegen (one parsed literal, shifts and
    masks only). ``words`` must come from a bloom_build with the SAME
    nbits/n_hashes — a shorter word array would turn out-of-range
    element_at lookups into NULLs and silently drop TRUE matches."""
    if len(words) * 64 != nbits:
        raise ValueError(
            f"words covers {len(words) * 64} bits but nbits={nbits}; "
            "build and probe must share the same nbits"
        )
    wlit = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")
    test = F.lit(True)
    for p in _bloom_positions(h, nbits, n_hashes):
        word = F.element_at(wlit, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftrightunsigned", word, F.pmod(p, F.lit(64))
        )
        test = test & (bit.bitwiseAND(F.lit(1)) == 1)
    return test


def contamination_pairs_bloom(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_common: int = 1,
    bench_id_name: str = "bench_id",
    nbits: int = 1 << 16,
    n_hashes: int = 2,
) -> DataFrame:
    """contamination_pairs with the Bloom scan-side pre-filter; result
    is identical (the exact join verifies), the corpus-side join input
    is ~fpp of the non-contaminated shingle stream."""
    sh = shingles(F.col(text_col), k)
    corp_inv = (
        corpus.where(F.size(F.split(F.col(text_col), " ")) >= k)
        .select(F.col(id_col), F.explode(sh).alias("s"))
        .select(F.col(id_col), F.xxhash64("s").alias("s"))
    )
    bench_inv = (
        bench.where(F.size(F.split(F.col(text_col), " ")) >= k)
        .select(F.col(id_col).alias(bench_id_name), F.explode(sh).alias("s"))
        .select(F.col(bench_id_name), F.xxhash64("s").alias("s"))
    )
    words = bloom_build(bench_inv, "s", nbits, n_hashes)
    pruned = corp_inv.where(
        bloom_might_contain(F.col("s"), words, nbits, n_hashes)
    )
    return (
        pruned.join(F.broadcast(bench_inv), "s")
        .where(F.col(id_col) != F.col(bench_id_name))
        .groupBy(id_col, bench_id_name)
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """The ACTION step of substring dedup (Lee et al. arXiv:2107.06499
    remove all-but-one occurrence): every duplicated k-gram window
    keeps only its canonical occurrence — the globally smallest
    (doc_id, pos), encoded as doc_id*1e9+pos (safe for documents up to
    a billion tokens and doc ids up to ~9.2e9; both overflow int64
    loudly, not silently, beyond that) — and every token covered by a
    non-canonical duplicated window is deleted from its document.

    Returns (doc_id, clean_text, n_removed) for EVERY input document
    (n_removed = 0 when nothing was cut). Reconstruction is an
    index-aware filter lambda over the token array — no Python, no
    per-token shuffle; only (doc_id, covered-index) pairs and the
    window-hash census move between stages."""
    pos_key = F.col("doc_id") * F.lit(1_000_000_000) + F.col("pos")
    sp = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(span_hashes(F.col(text_col), k)).alias("pos", "h"),
    )
    # one span-hash evaluation, one shuffle on h: the aggregate carries
    # each duplicated hash's occurrence list out, so the non-canonical
    # occurrences come from an explode of the aggregate — not a second
    # join back against the span stream (same reshape as doc_dup_spans)
    canon = (
        sp.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(pos_key).alias("canon"),
            F.collect_list(F.struct("doc_id", "pos")).alias("occs"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
    deleted = (
        canon.select("canon", F.explode("occs").alias("o"))
        .where(F.col("o.doc_id") * F.lit(1_000_000_000) + F.col("o.pos")
               != F.col("canon"))
        .select(F.col("o.doc_id").alias("doc_id"), F.col("o.pos").alias("pos"))
    )
    covered = (
        deleted.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("ti"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("ti")).alias("cov"))
    )
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    cov = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    ws = F.split(F.col(text_col), " ")
    kept = F.filter(
        ws, lambda w, i: ~F.array_contains(cov, i.cast("int"))
    )
    return base.join(covered, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(cov).cast("int").alias("n_removed"),
    )


def fuzzy_token_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    min_len: int = 4,
) -> DataFrame:
    """Edit-distance string-similarity self-join: distinct values of
    `col` paired when levenshtein(a, b) <= max_dist — the typo/variant
    detection join (near-duplicate keys, OCR noise, tag misspellings).

    Candidate generation is BLOCKED, not all-pairs: a pair must share
    its first OR its last character (two blocks, unioned and deduped)
    and sit within max_dist of each other in length. Documented recall
    bound: a pair whose edits change BOTH end characters (possible
    only when max_dist >= 2, e.g. 'xabcy'/'zabcw') is not generated;
    within-block results are exact. min_len drops short tokens whose
    distance-2 neighborhoods are semantically meaningless ('a' ~ 'of').

    100 TB shape: the distinct() collapses the corpus to its
    vocabulary first, and the LENGTH BUCKET IS PART OF THE EQUI-JOIN
    KEY, not a post-join filter: both sides key on
    ``(char, floor(len / (max_dist+1)))`` and the probe side explodes
    to its <= 3 length-band-reachable neighbor buckets. Initial/final
    characters are Zipf-skewed, so a character-only key would put an
    entire head-letter vocabulary slice on ONE join key (O(block^2)
    enumeration in one task, unsplittable by AQE); bucketing by length
    caps every key at one character x one (max_dist+1)-wide length
    class with identical recall. levenshtein runs only on block-local,
    band-true candidates."""
    width = max_dist + 1
    toks = (
        df.select(F.col(col).alias("s"))
        .where(F.length("s") >= min_len)
        .distinct()
        .localCheckpoint(eager=False)
    )

    def block(keyf):
        a = toks.select(
            F.col("s").alias("a"), keyf(F.col("s")).alias("__k"),
            F.length("s").alias("__la"),
            F.floor(F.length("s") / width).cast("int").alias("__bk"),
        )
        # probe side fans out to every bucket a band-mate could occupy:
        # |la-lb| <= max_dist < width bounds it to own-bucket +- 1, and
        # array_distinct collapses the overlap so a pair matches the
        # (char, bucket) key exactly once per block
        lb = F.length("s")
        b = toks.select(
            F.col("s").alias("b"), keyf(F.col("s")).alias("__k"),
            lb.alias("__lb"),
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor((lb - max_dist) / width).cast("int"),
                        F.floor(lb / width).cast("int"),
                        F.floor((lb + max_dist) / width).cast("int"),
                    )
                )
            ).alias("__bk"),
        )
        return (
            a.join(b, ["__k", "__bk"])
            .where(
                (F.col("a") < F.col("b"))
                & (F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
            )
            .select("a", "b")
        )

    cands = block(lambda s: F.substring(s, 1, 1)).unionByName(
        block(lambda s: F.substring(s, -1, 1))
    ).distinct()
    # compute the (dominant-cost) DP once: project, then filter on it
    return (
        cands.select("a", "b", F.levenshtein("a", "b").cast("int").alias("dist"))
        .where(F.col("dist") <= max_dist)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_pct_num: int = 1,
    min_pct_den: int = 4,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """DIRECTIONAL containment detection: (id_a, id_b, n_common, n_a)
    for every ordered pair where at least min_pct_num/min_pct_den of
    A's distinct word k-shingles also appear in B — the
    quote/subset/version-of signal Jaccard misses (a paragraph fully
    contained in a long doc has high containment but tiny Jaccard).
    The threshold is the integer inequality
    ``n_common * min_pct_den >= n_a * min_pct_num`` (no rounded
    rationals).

    Plan: the jaccard_pairs inverted-index shape — distinct shingles
    explode, self-join on the shingle, count per pair — then each
    unordered pair emits up to two directional rows against the two
    sizes. `max_shingle_freq` is the same stop-shingle cap (drops
    ubiquitous shingles before pair expansion; biases containment
    DOWN)."""
    docs = df.where(F.size(F.split(F.col(text_col), " ")) >= k).select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), k).alias("sh")
    )
    sizes = docs.select("id", F.size("sh").alias("n"))
    inv = docs.select("id", F.explode("sh").alias("s")).select(
        "id", F.xxhash64("s").alias("s")
    )
    if max_shingle_freq is not None:
        freq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("__f"))
        inv = (
            inv.join(freq.where(F.col("__f") <= max_shingle_freq), "s")
            .drop("__f")
        )
    # same AQE pin as jaccard_pairs: the shuffle is tiny 8-byte keys but
    # the join OUTPUT is the expanded pair list — keep it parallel
    n_part = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    inv = inv.repartition(n_part, "s")
    a = inv.select(F.col("id").alias("id_a"), "s")
    b = inv.select(F.col("id").alias("id_b"), "s")
    common = (
        a.join(b, "s")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a")
                    .withColumnRenamed("n", "n_a"), "id_a")
        .where(
            F.col("n_common") * min_pct_den >= F.col("n_a") * min_pct_num
        )
        .select("id_a", "id_b", "n_common", "n_a")
    )


def save_signature_store(
    corpus: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    k: int = 2,
    fingerprint: str = "",
) -> None:
    """Persist the corpus MinHash signature table (parquet + meta.json)
    so daily incremental dedup never re-shingles the corpus. The meta
    sidecar pins (id_col, n_hashes, k) — a load with different
    parameters would silently generate wrong band keys, so it raises —
    and carries the caller's source fingerprint for invalidation (the
    same contract as the ANN index caches' src.fp). The store follows
    `store.py`'s persisted-store contract, so remote store paths
    (hdfs://, s3a://) work."""
    sig = minhash_signatures_df(corpus, id_col, text_col, n_hashes, k)
    sig.write.mode("overwrite").parquet(path.rstrip("/") + "/signatures")
    write_meta(corpus.sparkSession, path,
               {"id_col": id_col, "n_hashes": n_hashes, "k": k,
                "fingerprint": fingerprint})


def load_signature_store(
    spark, path: str, id_col: str, n_hashes: int = 8, k: int = 2
) -> DataFrame:
    """Read a persisted signature table, validating that the requested
    parameters match the ones it was built with."""
    read_meta(spark, path, {"id_col": id_col, "n_hashes": n_hashes, "k": k},
              "signature store")
    return read_parquet(spark, path.rstrip("/") + "/signatures")


def ensure_signature_store(
    corpus: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    k: int = 2,
    fingerprint: str = "",
) -> DataFrame:
    """Build-or-reuse: rebuild when meta.json is absent or its
    parameters or fingerprint differ from the caller's (corpus content
    changed); otherwise serve the persisted signatures without touching
    corpus text."""
    spark = corpus.sparkSession
    try:
        read_meta(spark, path, {"id_col": id_col, "n_hashes": n_hashes, "k": k,
                                "fingerprint": fingerprint})
    except (FileNotFoundError, ValueError):
        save_signature_store(
            corpus, path, id_col, text_col, n_hashes, k, fingerprint
        )
    return load_signature_store(spark, path, id_col, n_hashes, k)


def incremental_dedup_pairs(
    corpus: DataFrame | None,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    k: int = 2,
    bands: int = 4,
    max_bucket_size: int | None = None,
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """Daily-ingest dedup: candidate pairs (new_id, corpus_id) between
    an incoming batch and the EXISTING corpus via banded MinHash — the
    incremental form of minhash_lsh_pairs. The critical scale property
    is what this join is NOT: the corpus never self-joins, and with
    `corpus_signatures` (a persisted signature table from
    save/ensure_signature_store) the corpus TEXT is never even
    scanned — the daily job reads |corpus| signature rows plus the
    batch, so cost scales with the batch. Within-batch duplicates are
    minhash_lsh_pairs on new_docs alone; the standard pipeline runs
    both."""
    rows_per_band = n_hashes // bands
    if corpus_signatures is not None:
        sig_c = corpus_signatures
    elif corpus is not None:
        sig_c = minhash_signatures_df(corpus, id_col, text_col, n_hashes, k)
    else:
        raise ValueError("pass corpus or corpus_signatures")
    sig_n = minhash_signatures_df(new_docs, id_col, text_col, n_hashes, k)
    bc = _band_rows(sig_c, id_col, "corpus_id", bands, rows_per_band)
    bn = _band_rows(sig_n, id_col, "new_id", bands, rows_per_band)
    if max_bucket_size is not None:
        # cap BOTH sides: a hot bucket can be driven by the corpus OR by
        # the batch (mass-duplicate ingest), and either one uncapped
        # still joins |new-bucket| x |corpus-bucket| rows
        def _cap(side):
            size = side.groupBy("band_idx", "band_key").agg(
                F.count(F.lit(1)).alias("__bsz")
            )
            return (
                side.join(size, ["band_idx", "band_key"])
                .where(F.col("__bsz") <= max_bucket_size)
                .drop("__bsz")
            )

        bc, bn = _cap(bc), _cap(bn)
    return (
        bn.join(bc, ["band_idx", "band_key"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def source_overlap(
    df: DataFrame,
    source_col: str,
    text_col: str,
    k: int = 2,
) -> DataFrame:
    """Dataset-to-dataset n-gram overlap matrix: for every source pair
    ``(src_a < src_b)``, the exact distinct-shingle intersection size,
    both set sizes, and containment ``n_common / min(n_a, n_b)``.

    Doc-level contamination (contamination_pairs) answers "is THIS
    document leaked"; this answers the provenance question one level
    up — "how much of source A is a re-crawl / re-package of source
    B" — which decides whether two feeds should be deduped against
    each other at all before any doc-level pass runs.

    Scale shape (S = number of sources, a handful even at 100 TB):
    - one corpus scan explodes shingles to 60-bit md5-prefix ints
      (shuffle carries 8-byte keys, not strings), distinct on
      (source, h) — map-side combine applies;
    - the self-join on h fans out at most S^2 rows per shingle hash
      (bounded by construction, no hot-key blowup possible);
    - set sizes are an S-row aggregate, the pair skeleton is a cross
      join of two S-row frames (broadcast both ways), and zero-overlap
      pairs survive via the left join — the output is the full
      S*(S-1)/2 matrix, never silently sparse.
    """
    words = F.split(F.col(text_col), " ")
    sh = (
        df.where(F.size(words) >= k)
        .select(
            F.col(source_col).alias("src"),
            F.explode(shingles(F.col(text_col), k)).alias("s"),
        )
        .select(
            "src",
            F.conv(F.substring(F.md5("s"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    sizes = sh.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "h")
        .where(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    skeleton = (
        sizes.alias("sa")
        .crossJoin(sizes.alias("sb"))
        .where(F.col("sa.src") < F.col("sb.src"))
        .select(
            F.col("sa.src").alias("src_a"),
            F.col("sb.src").alias("src_b"),
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
        )
    )
    return skeleton.join(common, ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        "n_a",
        "n_b",
        F.round(
            F.coalesce("n_common", F.lit(0)).cast("double")
            / F.least("n_a", "n_b").cast("double"),
            6,
        ).alias("containment"),
    )


def split_leakage_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str,
    n_hashes: int = 8,
    k: int = 2,
    bands: int = 4,
) -> DataFrame:
    """Train/eval LEAKAGE check: the near-duplicate candidate pairs
    that CROSS the split — an eval document with a near-dup in train
    is contamination the eval score silently inherits, and it is
    invisible to both per-split dedup and the train/eval split itself
    (deterministic splits ensure stability, not independence).

    Composes the MinHash-LSH candidate join with the split labels:
    output (id_a, id_b, split_a, split_b) where the splits differ. An
    empty result is the launch gate for an eval set. Same scale shape
    as minhash_lsh_pairs (banded candidate join, never all-pairs);
    the split labels join back on id."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n_hashes=n_hashes, k=k, bands=bands
    )
    labels = df.select(
        F.col(id_col).alias("_lid"), F.col(split_col).alias("_lsplit")
    )
    return (
        pairs.join(
            labels.withColumnRenamed("_lid", "id_a").withColumnRenamed(
                "_lsplit", "split_a"
            ),
            "id_a",
        )
        .join(
            labels.withColumnRenamed("_lid", "id_b").withColumnRenamed(
                "_lsplit", "split_b"
            ),
            "id_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b")
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates (dedup_survivors),
    DOWN-WEIGHT every member of a near-dup cluster by the cluster's
    size, so the cluster as a whole contributes one document's worth
    of sampling mass — the standard repetition-control alternative
    when hard removal is too lossy (boilerplate-heavy but individually
    useful docs, license texts, templated pages). Output: every doc
    with ``(cluster, dup_count, weight_num, weight_den)`` where
    dup_count = |cluster| (1 for docs in no candidate pair) and the
    weight is the EXACT rational 1/dup_count — integer num/den, never
    a float, so downstream weighted sampling (importance_resample,
    temperature_mixture) can consume it engine-exactly.

    Scale shape: dup_clusters over the bounded candidate-pair list,
    one cluster-size count over its output (cluster lists are
    candidate-sized, not corpus-sized), one broadcast-friendly left
    join back to the corpus — the corpus itself never shuffles."""
    clusters = dup_clusters(
        pairs, id_a, id_b, max_iterations=max_iterations
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("dup_count")
    )
    labeled = clusters.join(sizes, "cluster_id").select(
        F.col("id").alias(id_col),
        F.col("cluster_id").alias("cluster"),
        F.col("dup_count").cast("long").alias("dup_count"),
    )
    return (
        docs.select(id_col)
        .join(labeled, id_col, "left_outer")
        .select(
            id_col,
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster"),
            F.coalesce(F.col("dup_count"), F.lit(1).cast("long")).alias(
                "dup_count"
            ),
            F.lit(1).cast("long").alias("weight_num"),
            F.coalesce(F.col("dup_count"), F.lit(1).cast("long")).alias(
                "weight_den"
            ),
        )
    )


def ngram_novelty(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: how many
    of the doc's distinct k-shingles have never been seen in the
    reference — ``(id, n_shingles, n_novel)``, novelty ratio =
    n_novel / n_shingles downstream (kept as exact integers here so
    the whole row is engine-exact). The curation signal between
    doc-level contamination (is THIS doc leaked) and source-level
    overlap (are these FEEDS redundant): score every incoming doc by
    how much genuinely new text it adds before paying to store or
    train on it.

    Scale shape: shingles travel as 60-bit md5-prefix ints (8-byte
    shuffle keys); the reference side reduces to its DISTINCT shingle
    set, so the membership join has at most ONE match per probe row —
    no fan-out, no hot-key blowup possible; per-doc counts are one
    map-side-combined aggregate. Docs with fewer than k words pass
    through the skeleton join with (0, 0)."""
    h = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c), 1, 15), 16, 10
    ).cast("long")
    doc_sh = corpus.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), k)).alias("s"),
    ).select(id_col, h(F.col("s")).alias("h"))
    ref_sh = (
        reference.select(
            F.explode(shingles(F.col(text_col), k)).alias("s")
        )
        .select(h(F.col("s")).alias("h"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    counts = (
        doc_sh.join(ref_sh, "h", "left_outer")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("__seen").isNull(), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        corpus.select(id_col)
        .join(counts, id_col, "left_outer")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias(
                "n_shingles"
            ),
            F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
        )
    )


def save_shingle_store(
    reference: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 2,
) -> None:
    """Persist a reference corpus's DISTINCT shingle set as the 8-byte
    md5-prefix ints ngram_novelty joins against — the production shape
    for continuous ingest: the reference is scanned ONCE at store-build
    time, then every incoming batch scores against the bounded store.
    Grow it with ``mode("append")`` writes of new epochs' shingles (the
    membership join tolerates duplicate store rows only if re-distinct
    is applied at read; ngram_novelty_against_store does)."""
    h = F.conv(
        F.substring(F.md5(F.col("s")), 1, 15), 16, 10
    ).cast("long")
    (
        reference.select(
            F.explode(shingles(F.col(text_col), k)).alias("s")
        )
        .select(h.alias("h"))
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def ngram_novelty_against_store(
    corpus: DataFrame,
    spark,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
) -> DataFrame:
    """ngram_novelty with the reference side read from a persisted
    shingle store (save_shingle_store): identical output contract
    ``(id, n_shingles, n_novel)``, but the reference corpus is never
    rescanned — the store is the distinct 8-byte hash set, re-distinct
    at read so appended epochs cannot double-count. Same fan-out-free
    membership join shape as ngram_novelty."""
    h = F.conv(
        F.substring(F.md5(F.col("s")), 1, 15), 16, 10
    ).cast("long")
    doc_sh = corpus.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), k)).alias("s"),
    ).select(id_col, h.alias("h"))
    ref_sh = (
        read_parquet(spark, store_path)
        .select("h")
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    counts = (
        doc_sh.join(ref_sh, "h", "left_outer")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("__seen").isNull(), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        corpus.select(id_col)
        .join(counts, id_col, "left_outer")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias(
                "n_shingles"
            ),
            F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
        )
    )
