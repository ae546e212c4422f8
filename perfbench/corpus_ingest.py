"""corpus_ingest: LLM-data ingest against persisted stores.

Set-up builds a seeded base corpus, saves its MinHash signature store
and its image band store, and generates the media payloads of every
batch with the package's `synth_*` encoders (BMP and lossless JPEG
images, FLAC and mp3 audio), then curates one untimed batch so that
every step runs warm. Each round of the fixed timed sequence then:

1. curates one batch of new documents (seeded near-duplicates against
   the corpus and within the batch, and low-quality documents):
   `text.gopher_flags` gates, `dedup.incremental_dedup_pairs` against
   the signature store, `minhash_lsh_pairs` and `dedup_survivors`
   (connected components through `dup_clusters`), media decode through
   `extract_features`, `ahash_bands` and `near_dup_against_store`,
   `shards.write_training_shards` and `verify_training_shards`, and
   appends the survivors' signatures to the signature store
   (`op_p50_s`);
2. probes single documents against the signature store
   (`lookup_p50_s`).

Every step's output is checked: dedup pairs and survivors against a
reference of banded MinHash LSH computed in plain Python (the generator
plants near-duplicates, and LSH may add band collisions of unrelated
documents), media near-duplicates and decode results against what the
generator planted.
"""

from __future__ import annotations

import collections
import hashlib
import os
import time

from harness import dir_bytes, median

import inputs

PRIMARY_OP = "batch"
LOOKUP_OP = "probe"

# Sizes and the per-round mix fit the run budget; no measured ingest
# traffic backs them.
N_CORPUS, N_CORPUS_TINY = 1500, 200
BATCH, BATCH_TINY = 150, 40
# nominal seconds of one round; --seconds / ROUND_S rounds are timed
ROUND_S = 15.0
PROBES_PER_ROUND = 6
SHARDS = 4
DOC_SCHEMA = "doc_id long, text string"
# synth_* stub rules: ids divisible by these carry a payload the decoder
# must refuse (multimodal.synth_jpeg_lossless / synth_flac8 / synth_mp3_l3)
STUB_MOD = {"jpeg": 11, "flac": 13, "mp3": 7}


def band_keys(text: str, n_hashes: int = 8, bands: int = 4) -> set[tuple[int, str]]:
    """The (band, key) pairs banded MinHash LSH gives `text`, computed
    independently of Spark: distinct word 2-shingles, one md5 per
    shingle, hash p = the least 4-hex-digit slice p over the shingles,
    band b = hashes 2b and 2b+1 concatenated (`dedup._band_rows`)."""
    words = text.split(" ")
    digests = [hashlib.md5(f"{a} {b}".encode()).hexdigest()
               for a, b in set(zip(words, words[1:]))]
    if not digests:
        return set()
    h = [min(d[4 * p:4 * p + 4] for d in digests) for p in range(n_hashes)]
    rows = n_hashes // bands
    return {(b, "".join(h[b * rows:(b + 1) * rows])) for b in range(bands)}


class DedupModel:
    """What the signature store holds, and the pairs and survivors that
    banded LSH must give against it. Candidate pairs include band
    collisions of unrelated documents (LSH false positives), so the
    reference is computed, not read off the planted duplicates."""

    def __init__(self, base):
        self.buckets: dict[tuple[int, str], set[int]] = collections.defaultdict(set)
        for doc_id, text in base:
            self.add(doc_id, text)

    def add(self, doc_id, text) -> None:
        for key in band_keys(text):
            self.buckets[key].add(doc_id)

    def matches(self, text) -> set[int]:
        return set().union(*(self.buckets.get(k, ()) for k in band_keys(text)))

    def curate(self, docs):
        """(corpus pairs, in-batch pairs, survivors) for gate-passing
        `docs`; survivors join the store."""
        inc = {(d, c) for d, t in docs for c in self.matches(t)}
        dup_ids = {d for d, _ in inc}
        fresh = {d: t for d, t in docs if d not in dup_ids}
        by_key = collections.defaultdict(list)
        for d, t in fresh.items():
            for key in band_keys(t):
                by_key[key].append(d)
        pairs = {(a, b) for ids in by_key.values() for a in ids for b in ids if a < b}
        root = {d: d for d in fresh}

        def find(x):
            while root[x] != x:
                x = root[x]
            return x

        for a, b in sorted(pairs):
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        survivors = {d for d in fresh if find(d) == d}
        for d in survivors:
            self.add(d, fresh[d])
        return inc, pairs, survivors


def _decoders():
    from osmexpress_spark.operators import mp3l3, multimodal

    return {
        "jpeg": (multimodal.synth_jpeg_lossless, multimodal.image_decoder),
        "flac": (multimodal.synth_flac8, multimodal.audio_decoder),
        "mp3": (multimodal.synth_mp3_l3, mp3l3.decode_stats),
    }


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import dedup, multimodal, shards, text

    spark, rec = ctx.spark, ctx.rec
    n_corpus = N_CORPUS_TINY if ctx.tiny else N_CORPUS
    batch_size = BATCH_TINY if ctx.tiny else BATCH
    rounds = 1 if ctx.tiny else max(1, round(ctx.seconds / ROUND_S))
    base = inputs.corpus(n_corpus, ctx.seed)
    batches = inputs.corpus_batches(base, 1 + rounds, batch_size, ctx.seed)
    probes = inputs.corpus_probes(base, batches, PROBES_PER_ROUND, ctx.seed)
    ctx.input_bytes = sum(len(t.encode()) for _, t in base) + sum(
        len(t.encode()) for b in batches for _, t in b["docs"])
    sig_path, band_path = ctx.path("signatures"), ctx.path("bands")
    media_path = ctx.path("media")
    decoders = _decoders()
    model = DedupModel(base)

    def image_bands(ids_df):
        blobs = multimodal.synth_bmp24(ids_df, "image_id")
        feats = multimodal.extract_features(
            blobs, decoder=multimodal.bmp_gray_grid, modality="image")
        return multimodal.ahash_bands(feats, grid=8, threshold="mid")

    with rec.span("dedup", "signature_store"):
        corpus_df = spark.createDataFrame(base, DOC_SCHEMA)
        dedup.save_signature_store(corpus_df, sig_path, "doc_id", "text")
    with rec.span("media", "band_store"):
        ref_ids = spark.createDataFrame([(2 * i,) for i in range(n_corpus)], "image_id long")
        multimodal.save_band_store(image_bands(ref_ids), band_path)
    with rec.span("media", "synth"):
        batch_images = [
            (b, doc_id, image_id)
            for b, batch in enumerate(batches)
            for doc_id, image_id in batch["media"].items()
        ]
        spark.createDataFrame(batch_images, "batch int, doc_id long, image_id long") \
            .write.parquet(os.path.join(media_path, "image_ids"))
        ids = spark.createDataFrame(
            [(b, d) for b, batch in enumerate(batches) for d, _ in batch["docs"]],
            "batch int, doc_id long")
        payloads = None
        for kind, (synth, _dec) in decoders.items():
            p = synth(ids, "doc_id").select(
                F.lit(kind).alias("kind"), "item_id", "payload")
            payloads = p if payloads is None else payloads.unionByName(p)
        payloads.join(ids.withColumnRenamed("doc_id", "item_id"), "item_id") \
            .write.parquet(os.path.join(media_path, "payloads"))
    ctx.input_bytes += dir_bytes(os.path.join(media_path, "payloads"))

    def curate(b, batch):
        docs = spark.createDataFrame(batch["docs"], DOC_SCHEMA)
        epoch = ctx.path("shards", f"epoch{b:03d}")
        with rec.op("batch", layer="dedup", label="batch"):
            with rec.span("dedup", "build"):
                kept = docs.where(text.gopher_flags(F.col("text"))["keep"]) \
                    .localCheckpoint(eager=True)
                sigs = dedup.load_signature_store(spark, sig_path, "doc_id")
                inc = dedup.incremental_dedup_pairs(
                    None, kept, "doc_id", "text", corpus_signatures=sigs)
            with rec.span("dedup", "exec"):
                inc_pairs = {(r["new_id"], r["corpus_id"]) for r in inc.collect()}
            with rec.span("dedup", "build"):
                fresh = kept.where(~F.col("doc_id").isin([a for a, _ in inc_pairs]))
                pairs = dedup.minhash_lsh_pairs(fresh, "doc_id", "text") \
                    .localCheckpoint(eager=True)
                survivors = dedup.dedup_survivors(fresh, pairs, "doc_id") \
                    .localCheckpoint(eager=True)
            with rec.span("dedup", "exec") as sp:
                lsh_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
                kept_ids = {r["doc_id"] for r in survivors.select("doc_id").collect()}
                if sp is not None:
                    sp.attrs.update(candidate_pairs=len(inc_pairs) + len(lsh_pairs),
                                    docs=len(batch["docs"]), kept=len(kept_ids))
            with rec.span("media", "images"):
                imgs = spark.read.parquet(os.path.join(media_path, "image_ids")) \
                    .where(F.col("batch") == b)
                near = multimodal.near_dup_against_store(
                    image_bands(imgs),
                    multimodal.load_band_store(spark, band_path),
                )
                near_pairs = {(r["new_id"], r["ref_id"]) for r in near.collect()}
            with rec.span("media", "decode") as sp:
                feats = None
                for kind, (_synth, dec) in decoders.items():
                    blobs = spark.read.parquet(os.path.join(media_path, "payloads")) \
                        .where((F.col("batch") == b) & (F.col("kind") == kind)) \
                        .select("item_id", "payload")
                    f = multimodal.extract_features(blobs, decoder=dec, modality=kind)
                    feats = f if feats is None else feats.unionByName(f)
                decoded = {
                    r["modality"]: (r["ok"], r["n"])
                    for r in feats.groupBy("modality").agg(
                        F.sum(F.col("decode_ok").cast("int")).alias("ok"),
                        F.count("*").alias("n"),
                    ).collect()
                }
                if sp is not None:
                    ok = sum(v[0] for v in decoded.values())
                    sp.attrs["decode_ok_frac"] = ok / max(1, sum(v[1] for v in decoded.values()))
            with rec.span("shards", "write"):
                manifest = shards.write_training_shards(
                    survivors.withColumn("n_tokens", text.token_count(F.col("text"))),
                    epoch, "doc_id", "text", "n_tokens", SHARDS,
                ).collect()
            with rec.span("shards", "verify"):
                bad = shards.verify_training_shards(
                    spark, epoch, "doc_id", "text", "n_tokens").collect()
            with rec.span("dedup", "append"):
                dedup.minhash_signatures_df(survivors, "doc_id", "text") \
                    .write.mode("append").parquet(os.path.join(sig_path, "signatures"))
        # --- checks: the LSH reference model, and the planted media -------
        low = set(batch["low_quality"])
        want_inc, want_lsh, want_kept = model.curate(
            [(d, t) for d, t in batch["docs"] if d not in low])
        rec.check(inc_pairs == want_inc, f"batch {b} corpus dups: {len(inc_pairs)} != {len(want_inc)}")
        rec.check(lsh_pairs == want_lsh, f"batch {b} in-batch pairs: {len(lsh_pairs)} != {len(want_lsh)}")
        rec.check(kept_ids == want_kept, f"batch {b} survivors")
        want_near = {(i, i - 1) for i in batch["media"].values() if i % 2}
        rec.check(near_pairs == want_near, f"batch {b} image near-dups")
        doc_ids = [d for d, _ in batch["docs"]]
        want_dec = {k: (sum(1 for d in doc_ids if d % m), len(doc_ids))
                    for k, m in STUB_MOD.items()}
        rec.check(decoded == want_dec, f"batch {b} decode: {decoded} != {want_dec}")
        rec.check(sum(r["n_docs"] for r in manifest) == len(want_kept)
                  and not bad, f"batch {b} shards")
        return len(batch["docs"])

    def probe(doc_id, text_):
        with rec.op("probe", layer="dedup", label="probe"):
            one = spark.createDataFrame([(doc_id, text_)], DOC_SCHEMA)
            got = dedup.incremental_dedup_pairs(
                None, one, "doc_id", "text",
                corpus_signatures=dedup.load_signature_store(spark, sig_path, "doc_id"),
            ).collect()
        want = {(doc_id, c) for c in model.matches(text_)}
        rec.check({(r["new_id"], r["corpus_id"]) for r in got} == want, f"probe {doc_id}")

    def one_round(b):
        n = curate(b, batches[b])
        for doc_id, text_, _src in probes[b]:
            probe(doc_id, text_)
        return n

    with rec.span("session", "warmup"):
        curate(0, batches[0])
    ctx.begin_timed()
    ctx.items = sum(one_round(b) for b in range(1, rounds + 1))
    ctx.end_timed()
    ctx.output_bytes = (dir_bytes(sig_path) + dir_bytes(band_path)
                        + dir_bytes(ctx.path("shards")))

    if not rec.trace:
        return
    ex = ctx.extra
    builds = rec.named("dedup", "build")
    ex["dedup.build_s"] = median([s.t1 - s.t0 for s in builds])
    ex["dedup.build_jobs"] = median([s.jobs for s in builds])
    execs = [s for s in rec.named("dedup", "exec") if "docs" in s.attrs]
    ex["dedup.candidate_pairs"] = sum(s.attrs["candidate_pairs"] for s in execs)
    ex["dedup.removed_frac"] = 1 - sum(s.attrs["kept"] for s in execs) / max(
        1, sum(s.attrs["docs"] for s in execs))
    dec = rec.named("media", "decode")
    ex["media.decode_ok_frac"] = median([s.attrs["decode_ok_frac"] for s in dec])
    ex["shards.write_s"] = median([s.t1 - s.t0 for s in rec.named("shards", "write")])
    ex["shards.verify_s"] = median([s.t1 - s.t0 for s in rec.named("shards", "verify")])
    ex["shards.mb"] = dir_bytes(ctx.path("shards")) / 2**20
    # per-document codec cost: direct decoder calls on the timed batches'
    # payloads, outside Spark
    for kind, (_synth, dec) in decoders.items():
        payloads = [
            bytes(r["payload"])
            for r in spark.read.parquet(os.path.join(media_path, "payloads"))
            .where((F.col("batch") >= 1) & (F.col("kind") == kind)).select("payload").collect()
        ]
        t0 = time.perf_counter()
        for p in payloads:
            try:
                dec(p)
            except (NotImplementedError, ValueError):
                pass
        ex[f"codec.{kind}_us_per_doc"] = (time.perf_counter() - t0) / max(1, len(payloads)) * 1e6
