"""Round-6 regression tests: the four ADVICE r05 closures and the
staged q_bpe_merges oracle machinery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_signature_store_roundtrips_through_hadoop_fs(spark, tmp_path):
    """ADVICE r05 #1: meta.json must live on the SAME filesystem as the
    signature parquet. Writing the store to an explicit file: URI goes
    through Spark's Hadoop FS layer end-to-end — the old local open()
    on such a path would have created a literal './file:...' directory
    (or failed), splitting the store."""
    from osmexpress_spark.operators import dedup

    store = "file:" + str(tmp_path / "sigstore")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(40)
    sigs = dedup.ensure_signature_store(
        docs, store, "doc_id", "text", n_hashes=8, k=2, fingerprint="a"
    )
    assert sigs.count() > 0
    # no stray local directory named 'file:...' (the old failure mode)
    import os

    assert not any(n.startswith("file:") for n in os.listdir("."))
    # sidecar is readable back through the same layer: unchanged
    # fingerprint serves without rebuild, changed fingerprint rebuilds
    again = dedup.ensure_signature_store(
        docs, store, "doc_id", "text", n_hashes=8, k=2, fingerprint="a"
    )
    assert again.count() == sigs.count()
    with pytest.raises(ValueError, match="built with"):
        dedup.load_signature_store(spark, store, "doc_id", n_hashes=4, k=2)


@pytest.mark.slow
def test_kmeans_rejects_coordinates_outside_offset_range(spark):
    """ADVICE r05 #2: a coordinate < -2 yields negative offset micros,
    where Python floor-div and DuckDB truncate-div diverge — the
    quantizer must fail loudly instead."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from osmexpress_spark.operators import similarity

    bad = spark.createDataFrame(
        [(1, [0.5, -3.0]), (2, [0.1, 0.2])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(SparkRuntimeException, match="KM_OFFSET"):
        similarity.kmeans_train_distributed(
            bad, dim=2, k=2, iters=1
        ).collect()
    ok = spark.createDataFrame(
        [(1, [-2.0, 0.0]), (2, [0.1, 0.2]), (3, [1.5, -1.5])],
        "vec_id bigint, embedding array<double>",
    )
    got = similarity.kmeans_train_distributed(ok, dim=2, k=2, iters=1)
    assert got.count() == 3  # boundary x = -2 quantizes to exactly 0


def test_bpe_encode_rejects_reserved_id_col(spark):
    """ADVICE r05 #4: an id column named like the output/internal
    columns must fail loudly, not produce ambiguous duplicates."""
    from osmexpress_spark.operators import bpe

    df = spark.createDataFrame([(1, "ab")], "tokens bigint, text string")
    with pytest.raises(ValueError, match="id_col"):
        bpe.bpe_encode(df, "tokens", F.col("text"), [("a", "b")])
    df2 = spark.createDataFrame([(1, "ab")], "_t bigint, text string")
    with pytest.raises(ValueError, match="id_col"):
        bpe.bpe_encode(df2, "_t", F.col("text"), [("a", "b")])


@pytest.mark.slow
def test_bpe_merges_query_matches_train_loop(spark):
    """The staged q_bpe_merges contract query returns exactly
    bpe_train's merge table (rank-aligned) — the query is a thin
    wrapper, so a drift between the two would be a registration bug."""
    from osmexpress_spark import queries_data as QD
    from osmexpress_spark.operators import bpe

    sf = "/root/testdata/sf0.001"
    got = sorted(
        map(
            tuple,
            QD.q_bpe_merges(spark, sf).collect(),
        )
    )
    d = spark.read.parquet(sf + "/documents.parquet")
    merges = bpe.bpe_train(
        bpe.word_counts(d, F.col("text")), n_merges=QD._BPE_N_MERGES
    )
    assert got == [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
    # the loop feedback is actually exercised at this SF: some merge
    # consumes a previously-merged (multi-char) symbol
    assert any(len(a) > 1 or len(b) > 1 for _, a, b in got)


@pytest.mark.slow
def test_exact_quantiles_by_sharded_past_group_cap(spark):
    """VERDICT r05 ask #5: >4096 groups, exact results. The unsharded
    operator must refuse; the sharded escape hatch must agree with the
    sorted-list model on every group while each shard keeps the
    bounded-driver contract (its own <=4096-group refinement)."""
    import random

    from osmexpress_spark.operators import sketch

    rng = random.Random(66)
    rows, model = [], {}
    qs = [(50, 100), (9, 10)]
    for g in range(5000):
        key = f"g{g:04d}"
        vals = [rng.randrange(0, 10_000) for _ in range(rng.randrange(3, 8))]
        rows.extend((key, v) for v in vals)
        sv, n = sorted(vals), len(vals)
        for num, den in qs:
            rank = -(-num * n // den)
            model[(key, num, den)] = (rank, sv[rank - 1])
    df = spark.createDataFrame(rows, "k string, v long").repartition(8)

    with pytest.raises(ValueError, match="sharded"):
        sketch.exact_quantiles_by(df, F.col("k"), F.col("v"), qs)

    got = sketch.exact_quantiles_by_sharded(
        df, F.col("k"), F.col("v"), qs
    ).collect()
    assert len(got) == len(model)
    for r in got:
        rank, value = model[(r["key"], r["q_num"], r["q_den"])]
        assert (r["rank"], r["value"]) == (rank, value), r


# --- baseline JPEG decode (VERDICT r05 ask #6) ------------------------------
# Checked against tests/jpeg_ref.py, an INDEPENDENT minimal baseline
# encoder (own Annex-K tables, own FDCT) — the PNG strategy.

import numpy as np

from jpeg_ref import encode_jpeg


def _jpeg_means(img):
    return [img[..., i].mean() / 255.0 for i in range(3)]


def test_jpeg_constant_color_exact_444_and_420():
    from osmexpress_spark.operators.multimodal import image_decoder

    img = np.full((16, 24, 3), [200, 100, 50], dtype=np.uint8)
    for sub in ("444", "420"):
        w, h, r, g, b = image_decoder(encode_jpeg(img, 1, sub))
        assert (w, h) == (24.0, 16.0)
        # constant image: only YCbCr integer-rounding error survives
        for got, want in zip((r, g, b), _jpeg_means(img)):
            assert abs(got - want) < 3e-3, (sub, got, want)


def test_jpeg_grayscale():
    from osmexpress_spark.operators.multimodal import image_decoder

    g = np.full((8, 8), 77, dtype=np.uint8)
    w, h, r, gg, b = image_decoder(encode_jpeg(g, 1))
    assert (w, h) == (8.0, 8.0)
    assert abs(r - 77 / 255) < 1e-3 and r == gg == b


def test_jpeg_random_roundtrip_means():
    from osmexpress_spark.operators.multimodal import image_decoder

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (33, 41, 3), dtype=np.uint8)
    f = image_decoder(encode_jpeg(img, 1, "444"))
    assert f[:2] == [41.0, 33.0]
    for got, want in zip(f[2:], _jpeg_means(img)):
        assert abs(got - want) < 2e-3


def test_jpeg_420_with_restart_markers_and_odd_dims():
    from osmexpress_spark.operators.multimodal import image_decoder

    grad = np.zeros((40, 56, 3), dtype=np.uint8)
    for yy in range(40):
        for xx in range(56):
            grad[yy, xx] = [(yy * 4) % 256, (xx * 3) % 256, (yy + xx) % 256]
    f = image_decoder(encode_jpeg(grad, 4, "420", restart_interval=3))
    assert f[:2] == [56.0, 40.0]
    for got, want in zip(f[2:], _jpeg_means(grad)):
        assert abs(got - want) < 3e-3


def test_jpeg_golden_pin():
    """Bit-level regression pin: fixed-seed image through the fixed
    encoder; decoder output pinned to 10 decimals."""
    from osmexpress_spark.operators.multimodal import image_decoder

    rng = np.random.default_rng(1234)
    img = rng.integers(0, 256, (29, 37, 3), dtype=np.uint8)
    payload = encode_jpeg(img, 2, "420", restart_interval=4)
    assert len(payload) == 2777
    got = image_decoder(payload)
    want = [37.0, 29.0, 0.4950390717, 0.5183017641, 0.4887174432]
    assert all(abs(a - b) < 5e-10 for a, b in zip(got, want)), got


def test_jpeg_honest_stub_branches():
    from osmexpress_spark.operators.multimodal import image_decoder

    img = np.full((8, 8, 3), 128, dtype=np.uint8)
    good = bytearray(encode_jpeg(img, 1, "444"))
    sof = good.index(b"\xff\xc0")
    # SOF2 is DECODED now (round 7): relabeling a baseline stream as
    # progressive makes its interleaved 0..63 scan structurally invalid
    # (a progressive DC scan must have Se = 0) -> corruption, not stub
    prog = bytearray(good)
    prog[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="Se != 0"):
        image_decoder(bytes(prog))
    arith = bytearray(good)
    arith[sof + 1] = 0xC9  # arithmetic: still an honest stub
    with pytest.raises(NotImplementedError, match="SOF9"):
        image_decoder(bytes(arith))
    # 12-bit is DECODED now (round 7, SOF1/SOF2) — but a baseline
    # SOF0 declaring 12-bit is structurally invalid per T.81:
    # corruption, not stub
    twelve = bytearray(good)
    twelve[sof + 4] = 12  # precision byte
    with pytest.raises(ValueError, match="12-bit"):
        image_decoder(bytes(twelve))
    # unsupported precision stays the honest stub
    ten = bytearray(good)
    ten[sof + 4] = 10
    with pytest.raises(NotImplementedError, match="10-bit"):
        image_decoder(bytes(ten))
    # truncation mid-entropy is corruption (ValueError), not a stub
    with pytest.raises(ValueError):
        image_decoder(bytes(good[: len(good) // 2]))


def test_jpeg_distributed_extract_features(spark):
    """The Spark-side contract: JPEG payloads decode inside the
    Arrow-batched mapInPandas with decode_ok=True and features equal
    to the direct decoder call."""
    from osmexpress_spark.operators import multimodal

    rng = np.random.default_rng(5)
    rows = []
    for i in range(6):
        img = rng.integers(0, 256, (16 + i, 24, 3), dtype=np.uint8)
        sub = "420" if i % 2 else "444"
        rows.append((i, bytearray(encode_jpeg(img, 2, sub)), img))
    df = spark.createDataFrame(
        [(i, bytes(p)) for i, p, _ in rows],
        "item_id long, payload binary",
    )
    got = {
        r["item_id"]: (r["decode_ok"], r["feat"])
        for r in multimodal.extract_features(
            df, decoder=multimodal.image_decoder, modality="image"
        ).collect()
    }
    for i, p, img in rows:
        ok, feat = got[i]
        assert ok, i
        direct = multimodal.image_decoder(bytes(p))
        assert feat == pytest.approx(direct, abs=1e-12)
        assert feat[0] == 24.0 and feat[1] == 16.0 + i


@pytest.mark.slow
def test_bpe_fertility_census_matches_recount(spark):
    """The fertility census must equal a plain-Python recount over
    bpe_encode's own output (which is separately model-pinned)."""
    from osmexpress_spark.operators import bpe

    docs = [
        (1, "en", "low lower lowest"),
        (2, "en", "new newer newest"),
        (3, "de", "neu neuer neuestes wort"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    merges = bpe.bpe_train(bpe.word_counts(df, F.col("text")), n_merges=6)
    got = {
        r["group"]: (r.n_docs, r.n_words, r.n_tokens, r.n_chars)
        for r in bpe.bpe_fertility(
            df, "doc_id", F.col("text"), merges, F.col("lang")
        ).collect()
    }
    enc = {
        r.doc_id: r.tokens
        for r in bpe.bpe_encode(
            df, "doc_id", F.col("text"), merges
        ).collect()
    }
    want = {}
    for i, lang, text in docs:
        d, w, t, c = want.get(lang, (0, 0, 0, 0))
        want[lang] = (
            d + 1,
            w + len(text.split()),
            t + len(enc[i]),
            c + len(text),
        )
    assert got == want
    # fertility sanity: every word yields at least one token, at most
    # its characters + the end-of-word marker
    for lang, (_, w, t, _) in got.items():
        assert t >= w
