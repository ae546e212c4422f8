"""Audio-codec triage over a mixed crawl drop — the census-then-decode
two-step every format family in this repo follows:

1. container census per format (mp3 frame walk, Ogg page walk +
   Vorbis setup parse, AAC/ADTS frame walk) — cheap triage that
   inventories a drop BEFORE any expensive decode, flags damage
   per-row, and never shuffles blob bytes;
2. PCM decode where the machinery is complete — Ogg/Vorbis through
   `vorbis_decoder_factory` (floor1 streams; the analytic dB-table
   stand-in unless the caller injects the published table) and mp3
   through `mp3l3.mp3_decoder_factory` (caller-supplied synthesis
   window — here the analytic gate window over gate-shaped streams);
3. the shared 5-float audio contract feeding the same
   `extract_features` seam the WAV/FLAC/G.711 decoders use, so
   downstream dedup/VAD operators are format-agnostic.

Run:  python examples/codec_triage.py [SF_DIR]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osmexpress_spark import get_spark  # noqa: E402
from osmexpress_spark.operators import mp3l3  # noqa: E402
from osmexpress_spark.operators import multimodal as M  # noqa: E402
from osmexpress_spark.operators import vorbis as V  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="codec-triage", cpus=8,
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)

    third = F.col("doc_id") % 3
    mp3_blobs = M.synth_mp3_pcm(docs.where(third == 0), "doc_id")
    ogg_blobs = M.synth_vorbis_pcm(docs.where(third == 1), "doc_id")
    aac_blobs = M.synth_adts(docs.where(third == 2), "doc_id", "text")

    print("== triage: container censuses (no PCM work) ==")
    mp3_census = M.extract_features(
        mp3_blobs, decoder=mp3l3.decode_stats, modality="audio"
    )
    ogg_census = M.extract_features(
        ogg_blobs, decoder=V.vorbis_setup_census, modality="audio"
    )
    aac_census = M.extract_features(
        aac_blobs, decoder=M.adts_census, modality="audio"
    )
    for name, census in (("mp3", mp3_census), ("ogg", ogg_census),
                         ("aac", aac_census)):
        row = census.agg(
            F.count("*").alias("n"),
            F.sum(F.col("decode_ok").cast("int")).alias("parse_ok"),
        ).collect()[0]
        print(f"  {name}: {row.n} blobs, {row.parse_ok} parse clean, "
              f"{row.n - row.parse_ok} damaged (per-row, no stage "
              "failure)")

    print("== decode: PCM through the shared 5-float contract ==")
    vorbis_feats = M.extract_features(
        ogg_blobs, decoder=V.vorbis_decoder_factory(), modality="audio"
    )
    mp3_feats = M.extract_features(
        mp3_blobs,
        decoder=mp3l3.mp3_decoder_factory(
            mp3l3.gate_synthesis_window()
        ),
        modality="audio",
    )
    stats = vorbis_feats.unionByName(mp3_feats).where("decode_ok").select(
        F.element_at("feat", 2).cast("int").alias("rate"),
        F.element_at("feat", 3).alias("n_samples"),
        F.element_at("feat", 4).alias("mean_abs"),
    ).agg(
        F.count("*").alias("decoded"),
        F.countDistinct("rate").alias("rates"),
        F.sum("n_samples").cast("long").alias("total_samples"),
        F.round(F.avg("mean_abs"), 4).alias("avg_level"),
    ).collect()[0]
    print(f"  decoded {stats.decoded} streams across {stats.rates} "
          f"sample rates, {stats.total_samples} PCM samples, "
          f"mean |amplitude| {stats.avg_level}")
    print("TRIAGE COMPLETE")


if __name__ == "__main__":
    main()
