"""Similarity search: brute-force exactness invariants, LSH bucket
consistency, IVF training/probing (recall + structural invariants)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from osmexpress_spark.operators import similarity

DIM = 8
N = 200


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(7)
    # three well-separated blobs + noise, so clustering is meaningful
    centers = [[5.0] * DIM, [-5.0] * DIM, [5.0] * (DIM // 2) + [-5.0] * (DIM // 2)]
    rows = []
    for i in range(N):
        c = centers[i % 3]
        rows.append((i, [c[d] + rng.uniform(-1, 1) for d in range(DIM)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _brute_py(rows, k):
    """Independent python model of top-k cosine."""
    by_id = {r[0]: r[1] for r in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) *
                          math.sqrt(sum(x * x for x in b))), 6)

    out = {}
    for qid, qv in by_id.items():
        scored = sorted(
            ((cos(qv, cv), -nid) for nid, cv in by_id.items() if nid != qid),
            reverse=True,
        )
        out[qid] = [-s[1] for s in scored[:k]]
    return out


def test_bruteforce_matches_python_model(spark, vectors):
    sub = vectors.where(F.col("vec_id") < 30)
    rows = [(r.vec_id, [float(x) for x in r.embedding]) for r in sub.collect()]
    want = _brute_py(rows, k=3)
    got = {}
    res = similarity.topk_bruteforce(sub, sub, k=3).collect()
    for r in sorted(res, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    assert got == want


@pytest.mark.slow
def test_ivf_invariants_and_recall(spark, vectors):
    queries = vectors.where(F.col("vec_id") < 20)
    res = similarity.topk_ivf(
        queries, vectors, dim=DIM, k=3, n_centroids=6, nprobe=2
    ).collect()
    by_q = {}
    for r in sorted(res, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    # every query answered with k ranked neighbors, no self-matches
    assert set(by_q) == set(range(20))
    for qid, ns in by_q.items():
        assert len(ns) == 3 and qid not in ns and len(set(ns)) == 3
    # recall@3 vs exact brute force: blob structure => probing 2/6
    # lists must find most true neighbors
    rows = [(r.vec_id, [float(x) for x in r.embedding]) for r in vectors.collect()]
    exact = _brute_py(rows, k=3)
    hits = total = 0
    for qid, ns in by_q.items():
        hits += len(set(ns) & set(exact[qid]))
        total += 3
    assert hits / total >= 0.8, f"recall {hits / total:.2f}"


def test_ivf_training_deterministic_shape(spark, vectors):
    cents = similarity.ivf_train(vectors, dim=DIM, n_centroids=6, iters=2)
    assert len(cents) == 6
    assert all(len(c) == DIM for c in cents)
    # centers land near the three blob means: every blob center has a
    # trained centroid within distance 2
    blobs = [[5.0] * DIM, [-5.0] * DIM, [5.0] * (DIM // 2) + [-5.0] * (DIM // 2)]
    for b in blobs:
        dmin = min(
            math.sqrt(sum((x - y) ** 2 for x, y in zip(b, c))) for c in cents
        )
        assert dmin < 2.0, dmin


@pytest.mark.slow
def test_ivf_indexed_matches_inline_and_prunes(spark, vectors, tmp_path):
    """The on-disk inverted-file layout: same results as the inline
    topk_ivf (identical centroids + probe logic), and the probe scan
    physically prunes non-probed cid partitions."""
    idx = str(tmp_path / "ivf_idx")
    similarity.ivf_build_index(vectors, idx, DIM, n_centroids=8, iters=2)

    queries = vectors.where(F.col("vec_id") < 10)
    inline = similarity.topk_ivf(
        queries, vectors, DIM, k=3, n_centroids=8, nprobe=2, iters=2
    )
    indexed = similarity.topk_ivf_indexed(spark, idx, queries, k=3, nprobe=2)
    assert sorted(map(tuple, indexed.collect())) == sorted(
        map(tuple, inline.collect())
    )

    # partition pruning is physical: the scan's partition filters carry
    # the literal probe-cid IN-list, and fewer files are read than exist
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan
    import glob
    import re

    # the 3-blob dataset populates 3 lists; nprobe=2 must prune to <= 2
    # of them in the scan's pushed partition filter
    n_parts = len(glob.glob(f"{idx}/lists/cid=*"))
    assert n_parts >= 2
    m = re.search(r"PartitionFilters: \[[^\]]*cid[^\]]*IN \(([^)]*)\)", plan)
    assert m, "no literal cid IN-list pushed to the scan"
    assert len(m.group(1).split(",")) <= 2 * 10  # |Q| x nprobe bound


def test_quantize_reconstruction_bound(spark, vectors):
    q = vectors.select(
        "vec_id",
        "embedding",
        similarity.quantize(F.col("embedding")).alias("qv"),
        similarity.quantize_scale(F.col("embedding")).alias("scale"),
    ).collect()
    for r in q:
        assert all(-127 <= c <= 127 for c in r.qv)
        # round-half-up: |x - code*scale| <= scale/2 (+ float64 slop)
        for x, c in zip(r.embedding, r.qv):
            assert abs(float(x) - c * r.scale) <= r.scale / 2 + 1e-9


def test_quantized_topk_recall_vs_exact_mips(spark, vectors):
    """topk_quantized ranks by INNER PRODUCT (MIPS), so compare to the
    exact float inner-product top-5, not cosine top-5 — on unnormalized
    vectors those are different objectives by design."""
    qs = vectors.where(F.col("vec_id") < 20)
    rows = {r.vec_id: [float(x) for x in r.embedding]
            for r in vectors.collect()}
    want = {}
    for qid in range(20):
        qv = rows[qid]
        scored = sorted(
            ((sum(x * y for x, y in zip(qv, cv)), -nid)
             for nid, cv in rows.items() if nid != qid),
            reverse=True,
        )
        want[qid] = {-s[1] for s in scored[:5]}
    approx = similarity.topk_quantized(qs, vectors, k=5).collect()
    got = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    # int8 quantization noise may swap near-ties, but overlap stays high
    hits = sum(len(want[q] & got[q]) for q in want)
    assert hits >= 0.8 * 5 * len(want)


def test_kmeans_assign_matches_python_model(spark, vectors):
    res = similarity.kmeans_assign_step(vectors, k=3).collect()
    rows = {r.vec_id: [float(x) for x in r.embedding]
            for r in vectors.collect()}
    seeds = {cid: rows[cid] for cid in sorted(rows)[:3]}

    def d2(a, b):
        return round(sum((x - y) ** 2 for x, y in zip(a, b)), 6)

    for r in res:
        want = min(
            ((d2(rows[r.vec_id], cv), cid) for cid, cv in seeds.items())
        )[1]
        assert r.cluster == want, r.vec_id
    assert len(res) == len(rows)


def test_kmeans_assign_broadcasts_centroids(spark, vectors):
    res = similarity.kmeans_assign_step(vectors, k=3)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_semantic_dedup_contract(spark, vectors):
    res = similarity.semantic_dedup(
        vectors, dim=DIM, n_centroids=3, threshold=0.9
    ).collect()
    assert len(res) == N                      # every vector classified
    by_cid: dict[int, list] = {}
    for r in res:
        by_cid.setdefault(r["cid"], []).append(r)
    for cid, members in by_cid.items():
        reps = [m for m in members if m["id"] == m["rep_id"]]
        assert len(reps) == 1                 # exactly one rep per cluster
        rep = reps[0]
        assert rep["keep"]                    # rep always survives
        assert rep["rep_sim"] == 1.0          # cosine to itself
        for m in members:
            assert m["rep_id"] == rep["id"]
            # keep contract: below-threshold or the rep itself
            assert m["keep"] == (m["id"] == rep["id"] or m["rep_sim"] < 0.9)
    # the blobs are tight: semantic dup pruning must actually fire
    assert any(not r["keep"] for r in res)
    # and loners below the threshold survive alongside the rep
    kept = [r for r in res if r["keep"]]
    assert len(kept) >= len(by_cid)


def test_pq_codes_shape_and_determinism(spark, vectors):
    books = similarity.pq_train(vectors, DIM, m=4, ksub=8)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(cw) == DIM // 4 for b in books for cw in b)
    # deterministic: retraining yields identical codebooks
    assert books == similarity.pq_train(vectors, DIM, m=4, ksub=8)
    codes = similarity.pq_codes_df(vectors, books).collect()
    assert len(codes) == N
    for r in codes:
        assert len(r.codes) == 4
        assert all(0 <= c < 8 for c in r.codes)


def test_pq_reconstruction_beats_random(spark, vectors):
    """Codebook reconstruction must sit near the subspace members:
    mean squared reconstruction error well under the blob spread."""
    books = similarity.pq_train(vectors, DIM, m=4, ksub=8)
    dsub = DIM // 4
    rows = similarity.pq_codes_df(vectors, books, vec_col="embedding") \
        .join(vectors, "vec_id").collect()
    tot, n = 0.0, 0
    for r in rows:
        for j, c in enumerate(r.codes):
            cw = books[j][c]
            sub = [float(x) for x in r.embedding[j * dsub:(j + 1) * dsub]]
            tot += sum((a - b) ** 2 for a, b in zip(sub, cw))
            n += 1
    # blob half-width is 1.0 per dim; codewords should land inside it
    assert tot / n < dsub * 1.0, tot / n


@pytest.mark.slow
def test_pq_topk_matches_python_adc_model(spark, vectors):
    """topk_pq is DETERMINISTIC given the trained books: replicate
    encode (argmin-L2 on 6-decimal-rounded distances, ties -> lowest
    code) and ADC scoring (per-subspace dot vs the codeword, summed,
    rounded to 6) in plain Python and demand the exact same ranking.
    Within-blob candidates collapse to identical codes, so rank-based
    recall is meaningless here — exact ADC semantics is the contract.
    Also: every returned neighbor must come from the query's blob
    (blobs are antipodal, so any reconstruction keeps them apart)."""
    m, ksub = 4, 8
    dsub = DIM // m
    books = similarity.pq_train(vectors, DIM, m=m, ksub=ksub)
    rows = {r.vec_id: [float(x) for x in r.embedding]
            for r in vectors.collect()}

    def code_of(v):
        out = []
        for j in range(m):
            sub = v[j * dsub:(j + 1) * dsub]
            d2s = [round(sum((a - b) ** 2 for a, b in zip(sub, cw)), 6)
                   for cw in books[j]]
            out.append(d2s.index(min(d2s)))
        return out

    def adc(qv, codes):
        s = 0.0
        for j in range(m):
            cw = books[j][codes[j]]
            s += sum(a * b
                     for a, b in zip(qv[j * dsub:(j + 1) * dsub], cw))
        return round(s, 6)

    codes = {nid: code_of(v) for nid, v in rows.items()}
    want = {}
    for qid in range(20):
        scored = sorted(
            ((-adc(rows[qid], codes[nid]), nid)
             for nid in rows if nid != qid),
        )
        want[qid] = [nid for _, nid in scored[:5]]
    approx = similarity.topk_pq(
        vectors.where(F.col("vec_id") < 20), vectors, DIM,
        k=5, m=m, ksub=ksub,
    ).collect()
    got = {}
    for r in sorted(approx, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    assert got == want
    for qid, nbrs in got.items():
        assert all(n % 3 == qid % 3 for n in nbrs)  # same blob


@pytest.mark.slow
def test_ivfpq_full_probe_equals_pq_and_partial_stays_in_blob(spark, vectors):
    """With nprobe = n_centroids every inverted list is probed, so the
    composed index must reproduce plain ADC ranking exactly; with a
    partial probe the pruned search must still return same-blob
    neighbors (the coarse quantizer separates the antipodal blobs)."""
    m, ksub, nc = 4, 8, 6
    qs = vectors.where(F.col("vec_id") < 12)
    full = similarity.topk_ivfpq(
        qs, vectors, DIM, k=5, n_centroids=nc, nprobe=nc, m=m, ksub=ksub,
    ).collect()
    plain = similarity.topk_pq(qs, vectors, DIM, k=5, m=m, ksub=ksub).collect()
    as_map = lambda rows: {
        (r.query_id, r.rank): r.neighbor_id for r in rows
    }
    assert as_map(full) == as_map(plain)
    pruned = similarity.topk_ivfpq(
        qs, vectors, DIM, k=5, n_centroids=nc, nprobe=2, m=m, ksub=ksub,
    ).collect()
    for r in pruned:
        assert r.neighbor_id % 3 == r.query_id % 3


@pytest.mark.slow
def test_ivfpq_indexed_matches_inline_and_prunes(spark, vectors, tmp_path):
    """The on-disk composed layout: identical rows to the inline
    topk_ivfpq, lists store only code bytes, and the probe scan
    partition-prunes on the literal cid IN-list."""
    idx = str(tmp_path / "ivfpq_idx")
    similarity.ivfpq_build_index(
        vectors, idx, DIM, n_centroids=6, nprobe_default=2, m=4, ksub=8,
    )
    queries = vectors.where(F.col("vec_id") < 10)
    inline = similarity.topk_ivfpq(
        queries, vectors, DIM, k=3, n_centroids=6, nprobe=2, m=4, ksub=8,
    )
    indexed = similarity.topk_ivfpq_indexed(spark, idx, queries, k=3)
    assert sorted(map(tuple, indexed.collect())) == sorted(
        map(tuple, inline.collect())
    )
    # lists hold codes, not vectors
    import glob
    one = glob.glob(f"{idx}/lists/cid=*/*.parquet")[0]
    cols = spark.read.parquet(one).columns
    assert "codes" in cols and "cv" not in cols and "embedding" not in cols
    # physical partition pruning on the probe cids
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan


@pytest.mark.slow
def test_ivfpq_rerank_recovers_bruteforce_recall(spark, vectors):
    """With a generous shortlist, exact re-ranking must recover the
    brute-force cosine top-3 despite the coarse PQ codes collapsing
    within-blob candidates."""
    qs = vectors.where(F.col("vec_id") < 20)
    rows = [(r.vec_id, [float(x) for x in r.embedding])
            for r in vectors.collect()]
    exact = _brute_py(rows, k=3)
    # shortlist must exceed the blob population (~67): PQ collapses
    # within-blob candidates to identical ADC scores, so a smaller
    # shortlist drops true neighbors on id tie-breaks by design
    res = similarity.topk_ivfpq_rerank(
        qs, vectors, DIM, k=3, rerank=80, n_centroids=6, nprobe=3,
        m=4, ksub=8,
    ).collect()
    got = {}
    for r in sorted(res, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    hits = sum(len(set(got[q]) & set(exact[q])) for q in got)
    assert hits >= 0.95 * 3 * 20, hits / 60


@pytest.mark.slow
def test_ivfpq_append_extends_lists_without_retraining(spark, vectors,
                                                       tmp_path):
    """Appending rides the SAVED model: building on the first half and
    appending the second must probe identically to encoding the full
    corpus under that same model."""
    idx = str(tmp_path / "inc_idx")
    first = vectors.where(F.col("vec_id") < 100)
    rest = vectors.where(F.col("vec_id") >= 100)
    similarity.ivfpq_build_index(
        first, idx, DIM, n_centroids=6, nprobe_default=2, m=4, ksub=8,
    )
    similarity.ivfpq_append(idx, rest)
    lists = spark.read.parquet(f"{idx}/lists")
    assert lists.count() == N
    # reference: a fresh index whose lists are encoded with the SAME
    # model (train on `first`, encode everything)
    import json
    with open(f"{idx}/model.json") as f:
        meta = json.load(f)
    ref = vectors.select(
        F.col("vec_id").alias("neighbor_id"),
        similarity.pq_codes(F.col("embedding"), meta["books"]).alias("codes"),
        similarity._argmax(
            similarity._centroid_scores(
                F.col("embedding"), meta["centroids"])
        ).alias("cid"),
    )
    got = sorted((r.neighbor_id, r.cid, list(r.codes))
                 for r in lists.select("neighbor_id", "cid", "codes").collect())
    want = sorted((r.neighbor_id, r.cid, list(r.codes))
                  for r in ref.collect())
    assert got == want
    # probes over the appended index return new-half neighbors too
    res = similarity.topk_ivfpq_indexed(
        spark, idx, vectors.where(F.col("vec_id") < 5), k=5, nprobe=2,
    ).collect()
    assert any(r.neighbor_id >= 100 for r in res)


@pytest.mark.slow
def test_pq_codes_match_python_model_random_vectors(spark):
    """Randomized encode equivalence on adversarial inputs the blob
    fixture never produces: near-tie distances (rounding then lowest-
    code tie-break), zero vectors, duplicated rows."""
    import random

    rng = random.Random(99)
    dim, m, ksub = 8, 4, 4
    dsub = dim // m
    for trial in range(3):
        rows = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
                for i in range(60)]
        rows.append((60, [0.0] * dim))
        rows.append((61, rows[0][1]))  # exact duplicate of id 0
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        books = similarity.pq_train(df, dim, m=m, ksub=ksub)

        # float32 round-trip: Spark stores float, model must match
        import struct
        f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]

        def code_of(v):
            out = []
            for j in range(m):
                sub = [f32(x) for x in v[j * dsub:(j + 1) * dsub]]
                d2s = [round(sum((a - b) ** 2 for a, b in zip(sub, cw)), 6)
                       for cw in books[j]]
                out.append(d2s.index(min(d2s)))
            return out

        got = {r.vec_id: list(r.codes)
               for r in similarity.pq_codes_df(df, books).collect()}
        want = {i: code_of(v) for i, v in rows}
        assert got == want, f"trial {trial}"
        assert got[61] == got[0]  # identical vectors -> identical codes


@pytest.mark.slow
def test_multiprobe_lsh_improves_recall_and_contains_single_probe(spark):
    """probes>1 must (a) return a superset-quality result: recall vs
    brute force never decreases, (b) reduce to the exact single-bucket
    searcher at probes=1, and (c) cost only a query-side fan-out."""
    from osmexpress_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where("vec_id < 10")
    exact = similarity.topk_bruteforce(q, emb, k=5)

    def recall(df):
        r = similarity.ann_recall(exact, df).agg(
            {"n_overlap": "sum"}).collect()[0][0]
        return r

    single = similarity.topk_bucketed(q, emb, dim=64, k=5, probes=1)
    multi = similarity.topk_bucketed(q, emb, dim=64, k=5, probes=3)
    r1, r3 = recall(single), recall(multi)
    assert r3 >= r1  # the hard invariant: extra probes never lose recall
    if r3 == r1:
        # the driver regenerates sf0.001 each round; on some draws 3
        # probes add no recall, which is a data property, not a bug
        pytest.skip(f"no extra recall at 3 probes on this data (r1={r1})")
    # probes=1 path identical to the historical implementation
    base = similarity.topk_bucketed(q, emb, dim=64, k=5)
    assert sorted(map(tuple, single.collect())) == sorted(map(tuple, base.collect()))


def _kc_model(vecs, k):
    """Independent greedy k-center model over quantized micros."""
    q = {
        i: [math.floor(float(x) * 1_000_000) + 2_000_000 for x in v]
        for i, v in vecs
    }

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    sel = [min(q)]
    trace = [(0, sel[0], 0)]
    while len(sel) < k and len(sel) < len(q):
        best = max(
            ((min(d2(q[i], q[c]) for c in sel), -i), i)
            for i in q if i not in sel
        )[1]
        trace.append((len(sel), best, min(d2(q[best], q[c]) for c in sel)))
        sel.append(best)
    assign = {}
    for i in q:
        assign[i] = min((d2(q[i], q[c]), r, c) for r, c, _ in trace)
    return trace, {i: (c, d) for i, (d, r, c) in assign.items()}


@pytest.mark.slow
def test_kcenter_matches_python_model_random(spark):
    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got, centers = similarity.kcenter_select(
        df, k=6, return_centers=True
    )
    trace, assign = _kc_model(vecs, 6)
    assert centers == trace
    assert {r.vec_id: (r.center, r.d2) for r in got.collect()} == assign
    # covering radius is non-increasing after the seed
    radii = [d for _, _, d in centers[1:]]
    assert radii == sorted(radii, reverse=True)


def test_kcenter_k_exceeds_corpus(spark):
    vecs = [(1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [0.0, 0.2])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got, centers = similarity.kcenter_select(df, k=10, return_centers=True)
    # selection saturates at the corpus: every point is its own center
    assert sorted(cid for _, cid, _ in centers) == [1, 2, 3]
    assert all(r.d2 == 0 and r.center == r.vec_id for r in got.collect())


def test_kcenter_picks_farthest_first(spark):
    # seed is id 0 at the origin; the far outlier must be picked next
    vecs = [
        (0, [0.0, 0.0]),
        (1, [0.01, 0.0]),
        (2, [0.02, 0.0]),
        (3, [0.9, 0.9]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    _, centers = similarity.kcenter_select(df, k=2, return_centers=True)
    assert [cid for _, cid, _ in centers] == [0, 3]


def test_kcenter_assignment_plan_python_free(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assign = similarity.kcenter_select(df, k=3)
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # nearest-center assignment is scan-side: no join, no exchange
    assert "Exchange" not in plan and "Join" not in plan


def test_kcenter_empty_and_bad_k(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        similarity.kcenter_select(empty, k=2)
    with pytest.raises(ValueError, match="k must be"):
        similarity.kcenter_select(empty, k=0)


@pytest.mark.slow
def test_embedding_drift_census_identical_and_shifted(spark):
    rng = random.Random(11)
    base = [
        (i, [rng.uniform(-0.4, 0.4) for _ in range(8)]) for i in range(60)
    ]
    old = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    # identical snapshots: counts equal per bucket, PSI ~ 0
    census = similarity.embedding_drift_census(old, old, k=4)
    rows = census.collect()
    assert all(r.old_n == r.new_n for r in rows)
    assert sum(r.old_n for r in rows) == 60
    from osmexpress_spark.operators import sketch

    assert abs(sketch.psi_drift(census)) < 1e-12
    # shifted snapshot: mass moves, PSI strictly positive
    shifted = spark.createDataFrame(
        [(i, [x + 0.3 for x in v]) for i, v in base],
        "vec_id long, embedding array<double>",
    )
    census2 = similarity.embedding_drift_census(old, shifted, k=4)
    assert sketch.psi_drift(census2) > 0.01
    # quantizer anchored in OLD: bucket ids are old-snapshot seed ids
    assert {r.bucket for r in census2.collect()} == {0, 1, 2, 3}


def test_embedding_drift_census_needs_k_seeds(spark):
    small = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="need k="):
        similarity.embedding_drift_census(small, small, k=4)


@pytest.mark.slow
def test_embedding_drift_census_plan_python_free(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = e.where(F.col("vec_id") % 2 == 0)
    new = e.where(F.col("vec_id") % 2 == 1)
    census = similarity.embedding_drift_census(old, new, k=8)
    plan = census._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hard_negatives_band_and_rank(spark):
    rng = random.Random(3)
    vecs = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(8)]) for i in range(50)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") < 5)
    got = similarity.hard_negatives(
        queries, df, k=3, lo=0.0, hi=0.5
    ).collect()

    # independent model: rounded cosine, band filter, rank by (-sim, id)
    import math as m

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d / (m.sqrt(sum(x * x for x in a)) * m.sqrt(sum(y * y for y in b))),
            6,
        )

    want = {}
    by_id = dict(vecs)
    for qid in range(5):
        cand = [
            (cos(by_id[qid], v), i)
            for i, v in vecs
            if i != qid and 0.0 < cos(by_id[qid], v) <= 0.5
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        for r, (s, i) in enumerate(cand[:3], 1):
            want[(qid, i)] = (s, r)
    assert {
        (r.query_id, r.neighbor_id): (r.sim, r.neg_rank) for r in got
    } == want
    # every returned sim is inside the band
    assert all(0.0 < r.sim <= 0.5 for r in got)
    with pytest.raises(ValueError, match="lo < hi"):
        similarity.hard_negatives(queries, df, lo=0.5, hi=0.5)


def test_kcenter_rejects_null_ids(spark):
    """ADVICE r06: a NULL id would sort first (Spark NULLS FIRST asc)
    and seed the selection, then null-poison every ~isin round; the
    guard fails the seed scan loudly instead."""
    import pytest

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (None, [1.0, 1.0]), (3, [2.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL id"):
        similarity.kcenter_select(df, k=2)


@pytest.mark.slow
def test_hard_negatives_ivf_fullprobe_matches_bruteforce(spark, vectors):
    """nprobe == n_centroids makes IVF pruning a no-op, so the banded
    searcher must be bit-identical to brute-force hard_negatives —
    the equivalence contract of the VERDICT r06 #4 composition."""
    queries = vectors.where(F.col("vec_id") < 10)
    lo, hi = 0.1, 0.6
    exact = similarity.hard_negatives(
        queries, vectors, k=4, lo=lo, hi=hi
    ).collect()
    pruned = similarity.hard_negatives_ivf(
        queries, vectors, dim=DIM, k=4, lo=lo, hi=hi,
        n_centroids=8, nprobe=8,
    ).collect()
    key = lambda r: (r.query_id, r.neg_rank)  # noqa: E731
    assert sorted(map(tuple, exact), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, pruned), key=lambda t: (t[0], t[3])
    )
    assert all(lo < r.sim <= hi for r in pruned)


@pytest.mark.slow
def test_hard_negatives_ivf_recall_monotone_in_nprobe(spark, vectors):
    """Probed lists are nested as nprobe grows (top-nprobe centroids)
    and top-k recall is monotone under candidate-set inclusion, so
    banded recall must be non-decreasing in nprobe and reach 1.0 at
    full probe."""
    queries = vectors.where(F.col("vec_id") < 10)
    lo, hi = 0.1, 0.6
    exact = similarity.hard_negatives(
        queries, vectors, k=4, lo=lo, hi=hi
    ).select("query_id", "neighbor_id")

    def recall(nprobe):
        approx = similarity.hard_negatives_ivf(
            queries, vectors, dim=DIM, k=4, lo=lo, hi=hi,
            n_centroids=8, nprobe=nprobe,
        ).select("query_id", "neighbor_id")
        agg = (
            similarity.ann_recall(exact, approx)
            .agg(F.sum("n_overlap").alias("o"), F.sum("n_exact").alias("e"))
            .collect()[0]
        )
        return agg["o"] / agg["e"]

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8 == 1.0


def test_hard_negatives_ivf_plan_no_cross_join(spark, vectors):
    """The at-scale miner must never cross-join corpus x anchors: the
    probe join is a cid equi-join (broadcast on the tiny fanned-out
    query side)."""
    queries = vectors.where(F.col("vec_id") < 10)
    df = similarity.hard_negatives_ivf(
        queries, vectors, dim=DIM, k=4, lo=0.1, hi=0.6,
        n_centroids=8, nprobe=2,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.slow
def test_banded_topk_ivf_and_bucketed_stay_in_band(spark, vectors):
    """sim_lo/sim_hi on the searchers: every returned pair's true
    cosine lies in the band, and the banded result is a subset of the
    same searcher's unbanded scored pairs (the band is a filter inside
    the probed stage, never a different candidate set)."""
    import math as m

    queries = vectors.where(F.col("vec_id") < 10)
    rows = {r.vec_id: list(r.embedding) for r in vectors.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d
            / (m.sqrt(sum(x * x for x in a)) * m.sqrt(sum(y * y for y in b))),
            6,
        )

    lo, hi = 0.1, 0.6
    for fn, kw in (
        (similarity.topk_ivf, dict(n_centroids=8, nprobe=3)),
        (similarity.topk_bucketed, dict(probes=3)),
    ):
        banded = fn(
            queries, vectors, dim=DIM, k=4, sim_lo=lo, sim_hi=hi, **kw
        ).collect()
        assert banded, fn.__name__
        for r in banded:
            s = cos(rows[r.query_id], rows[r.neighbor_id])
            assert lo < s <= hi, (fn.__name__, r, s)
        with pytest.raises(ValueError, match="sim_lo < sim_hi"):
            fn(queries, vectors, dim=DIM, k=4, sim_lo=0.5, sim_hi=0.5, **kw)


@pytest.mark.slow
def test_banded_rerank_band_applies_to_exact_sims(spark, vectors):
    """topk_ivfpq_rerank's band cuts on EXACT rerank cosines: every
    returned pair lies in the band even though the stage-1 shortlist
    scored with quantized ADC sims."""
    import math as m

    queries = vectors.where(F.col("vec_id") < 10)
    rows = {r.vec_id: list(r.embedding) for r in vectors.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d
            / (m.sqrt(sum(x * x for x in a)) * m.sqrt(sum(y * y for y in b))),
            6,
        )

    # a band near the top (the rerank searcher's documented use: the
    # shortlist is an unbanded ADC top-`rerank`, so only near-top bands
    # are reachable) — cuts the lower tail of same-blob cosines
    got = similarity.topk_ivfpq_rerank(
        queries, vectors, dim=DIM, k=4, rerank=30,
        n_centroids=8, nprobe=8, m=4, ksub=8,
        sim_lo=0.95, sim_hi=1.0,
    ).collect()
    assert got
    for r in got:
        s = cos(rows[r.query_id], rows[r.neighbor_id])
        assert 0.95 < s <= 1.0, (r, s)


def test_embedding_gram_matches_python_model(spark):
    import math
    import random as _r

    rng = _r.Random(13)
    dim, n = 6, 120
    rows = [
        (i, [rng.uniform(-1.5, 1.5) for _ in range(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["i"], r["j"]): (int(r["gram"]), r["n"])
        for r in similarity.embedding_gram(df, dim).collect()
    }
    want = {}
    for _, v in rows:
        q = [math.floor(x * 1e6) for x in v]
        for i in range(dim):
            for j in range(i, dim):
                g, _ = want.get((i, j), (0, n))
                want[(i, j)] = (g + q[i] * q[j], n)
    assert got == want
    assert len(got) == dim * (dim + 1) // 2


def test_embedding_gram_rejects_null_element(spark):
    rows = [(0, [0.5, -1.0, 2.0]), (1, [1.0, None, 0.25])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="non-null, 3-length vector"):
        similarity.embedding_gram(df, 3).collect()


@pytest.mark.slow
def test_pca_project_variance_identity_and_determinism(spark):
    """The projected per-component variance must equal the covariance
    eigenvalues (micros^2 scaled), the basis must be orthonormal with
    the positive-pivot sign convention, reruns must be bit-identical,
    and the projection plan must be scan-side (no shuffle, no
    Python)."""
    import random as _r

    import numpy as np

    rng = _r.Random(21)
    dim, n, k = 8, 400, 3
    # anisotropic blob so the spectrum is unambiguous
    rows = [
        (
            i,
            [rng.gauss(0, 3.0), rng.gauss(5, 2.0)]
            + [rng.gauss(0, 0.5) for _ in range(dim - 2)],
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out, basis, ev = similarity.pca_project(
        df, dim, k, return_basis=True
    )
    P = np.array(
        [r["proj"] for r in out.orderBy("vec_id").collect()]
    )
    var = P.var(axis=0, ddof=0)
    for c in range(k):
        assert abs(var[c] - ev[c] / 1e12) < max(1e-6, ev[c] / 1e12 * 1e-6)
    assert ev[0] >= ev[1] >= ev[2]
    B = np.array(basis)
    assert np.abs(B @ B.T - np.eye(k)).max() < 1e-9
    for comp in basis:
        pivot = int(np.argmax(np.abs(comp)))
        assert comp[pivot] > 0
    out2, basis2, ev2 = similarity.pca_project(
        df, dim, k, return_basis=True
    )
    assert basis == basis2 and ev == ev2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    with pytest.raises(ValueError, match="1 <= k <= dim"):
        similarity.pca_project(df, dim, 0)


@pytest.mark.slow
def test_banded_indexed_matches_banded_inline(spark, vectors, tmp_path):
    """The band on the PHYSICAL index layout: banded topk_ivf_indexed
    must equal banded inline topk_ivf given the same build parameters,
    and the probed scan must still carry the literal cid partition
    filter (band composes with pruning, it does not defeat it)."""
    idx = str(tmp_path / "ivf_band_idx")
    similarity.ivf_build_index(vectors, idx, DIM, n_centroids=8, iters=2)
    queries = vectors.where(F.col("vec_id") < 10)
    lo, hi = 0.1, 0.6
    inline = similarity.topk_ivf(
        queries, vectors, DIM, k=4, n_centroids=8, nprobe=2, iters=2,
        sim_lo=lo, sim_hi=hi,
    )
    indexed = similarity.topk_ivf_indexed(
        spark, idx, queries, k=4, nprobe=2, sim_lo=lo, sim_hi=hi
    )
    assert sorted(map(tuple, indexed.collect())) == sorted(
        map(tuple, inline.collect())
    )
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan
