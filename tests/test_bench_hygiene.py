"""bench.py registry hygiene (VERDICT r04 next-round #8).

HEADLINE is a hand-maintained list; these guards make a rename or a
registry refactor fail loudly instead of silently dropping perf
coverage for a query family.
"""

from __future__ import annotations

import json

import bench
from osmexpress_spark import registry


def test_every_headline_name_is_registered():
    reg = registry.queries()
    missing = [n for n in bench.HEADLINE if n not in reg]
    assert not missing, f"bench HEADLINE names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicates"


# Each SURVEY §2.9 family must keep >= 1 benched line. Members list the
# registry queries belonging to the family (update when renaming);
# the assertion is on the intersection with HEADLINE, so any ONE
# surviving member keeps the family covered.
FAMILIES = {
    "relational-core": ["q1_pricing_summary", "q_star_join_revenue",
                        "q_topk_per_group", "q_count_distinct"],
    "windows-sessions": ["q_sessionize", "q_window_tumbling",
                         "q_asof_join"],
    "dedup-minhash": ["q_minhash_lsh_pairs", "q_ngram_jaccard",
                      "q_dup_clusters", "q_semantic_dedup",
                      "q_fuzzy_token_pairs", "q_softdedup_weights"],
    "dedup-decontamination": ["q_source_overlap", "q_split_leakage",
                              "q_ngram_novelty", "q_dedup_masks"],
    "retrieval-ranking": ["q_bm25_topk", "q_doc_token_stats",
                          "q_rrf_fusion", "q_bm25_store"],
    "embeddings-ann": ["q_embedding_topk", "q_embedding_ann_bucketed",
                       "q_quantized_ann", "q_pq_topk", "q_kmeans_assign"],
    "embedding-similarity": ["q_kcenter_select", "q_embedding_drift",
                             "q_hard_negatives", "q_hard_negatives_ivf",
                             "q_embedding_gram", "q_bitext_mine"],
    "sampling-curation": ["q_stratified_sample", "q_importance_resample",
                          "q_gopher_rules", "q_curation_pipeline",
                          "q_contamination", "q_token_budget",
                          "q_rank_blend", "q_budget_by_domain",
                          "q_mix_plan", "q_quota_fill"],
    "drift-outliers": ["q_dist_drift", "q_dist_drift_by",
                       "q_mad_outliers", "q_winsorized_stats",
                       "q_stream_drift"],
    "classifier": ["q_nb_token_counts", "q_nb_confusion",
                   "q_nb_reliability"],
    "shard-sink": ["q_shard_manifest", "q_manifest_merge"],
    "text-normalize": ["q_html_strip", "q_hashed_features"],
    "profiling-quality": ["q_profile_documents", "q_quality_buckets",
                          "q_doc_dup_spans", "q_modality_alignment",
                          "q_profile_diff", "q_distinctive_terms"],
    "sketches": ["q_kmv_distinct", "q_cms_heavy_hitters",
                 "q_kmv_distinct_by", "q_join_size_estimate"],
    "sketch-quantiles": ["q_quantile_sketch", "q_quantile_by_group",
                         "q_exact_quantiles", "q_exact_quantiles_by",
                         "q_quantile_sketch_merge"],
    "tokenizer-vocab": ["q_bpe_pair_counts", "q_frequent_tokens",
                        "q_bpe_merges", "q_vocab_growth",
                        "q_bpe_token_census"],
    "kmeans-training": ["q_kmeans_train"],
    "model-scoring": ["q_quality_logreg", "q_bigram_perplexity"],
    "events-funnels": ["q_event_funnel", "q_event_spikes"],
    "range-band-joins": ["q_band_join", "q_range_scan"],
    "graph": ["osm_pagerank", "osm_triangle_count",
              "q_transitive_closure"],
    "osm-spatial": ["osm_extract_bbox", "osm_radius_pairs",
                    "osm_way_lengths", "osm_tile_counts",
                    "osm_way_areas", "osm_way_intersections"],
    "update-diff": ["q_augmented_diff_analog", "q_last_version_wins"],
    # round 8: the two families the round-7 staging set introduced
    "multimodal-neardup": ["q_image_near_dup", "q_audio_fingerprint",
                           "q_image_ingest_dedup", "q_format_census",
                           "q_audio_flac_stats", "q_audio_ingest_dedup",
                           "q_image_dup_clusters", "q_audio_g711_stats",
                           "q_audio_adpcm_stats", "q_image_jpeg_stats",
                           "q_wav_segments_stats", "q_image_webp_stats",
                           "q_audio_au_stats", "q_audio_mp3_census",
                           "q_ogg_census", "q_audio_mp3_decode"],
    "rollup-store": ["q_rollup_store", "q_stream_rollup"],
    # round 9: the family the round-8 staging set introduced
    "osmx-migration": ["osm_osmx_roundtrip"],
    # round 10: the promoted round-9 staging set joins existing
    # families where one fits; the two genuinely new surfaces get rows
    "dedup-exact-similarity": ["q_prefix_filter_pairs",
                               "q_record_linkage"],
    "join-planning": ["q_join_order_advice"],
    # round 11: the promoted round-10 staging set — the crawl
    # ingestion surface gets its own family; archive/container censuses
    # and the mp3 bitstream decode join multimodal-neardup via the
    # shared extract_features seam
    "crawl-ingest": ["q_warc_census", "q_url_parse",
                     "q_charset_decode", "q_robots_admit",
                     "q_zstd_census"],
}


def test_every_family_keeps_a_bench_line():
    reg = registry.queries()
    head = set(bench.HEADLINE)
    for fam, members in FAMILIES.items():
        stale = [m for m in members if m not in reg]
        assert not stale, f"family {fam} lists unregistered queries {stale}"
        assert head & set(members), f"family {fam} has no bench line"


def test_scaling_subset_is_registered():
    import scaling

    # staged queries participate in the scaling sweep before promotion
    reg = registry.queries(include_staged=True)
    missing = [n for n in scaling.SUBSET if n not in reg]
    assert not missing, f"scaling.py SUBSET names not in registry: {missing}"
    # all scaling lines read sf-scaled tables (no fixed-size OSM fixture
    # lines, which an sf sweep cannot exercise)
    assert not [n for n in scaling.SUBSET if n.startswith("osm_")]


def test_family_map_covers_headline_registry_queries():
    # every HEADLINE registry query belongs to some family, so a new
    # bench line must be classified (keeps the map from rotting)
    classified = {m for members in FAMILIES.values() for m in members}
    reg = set(registry.queries())
    unclassified = [n for n in bench.HEADLINE
                    if n in reg and n not in classified]
    assert not unclassified, f"bench lines missing a family: {unclassified}"


def test_pending_headline_names_are_staged():
    """PENDING_HEADLINE (the bench lines added at promotion) must
    reference actual staged queries — a rename before promotion would
    otherwise silently drop the planned perf coverage."""
    missing = [n for n in bench.PENDING_HEADLINE if n not in registry.staged()]
    assert not missing, f"PENDING_HEADLINE not staged: {missing}"
    assert len(set(bench.PENDING_HEADLINE)) == len(bench.PENDING_HEADLINE)


def _detail(timings):
    return {
        "metric": "headline_queries_total_wall", "value": 1.0, "unit": "sec",
        "queries": timings, "sf": 0.001,
        "loadavg_start": [0.1, 0.2, 0.3], "loadavg_end": [0.1, 0.2, 0.3],
    }


def test_summary_line_skips_always_report_names_that_did_not_run():
    """A bench run that lost an ALWAYS_REPORT line (its stage raised
    or was cut) must still print a parseable final line."""
    timings = {"q1_pricing_summary": 2.5, bench.ALWAYS_REPORT[0]: 1.25}
    out = json.loads(bench.summary_line(_detail(timings)))
    assert out["queries"] == {bench.ALWAYS_REPORT[0]: 1.25,
                              "q1_pricing_summary": 2.5}
    assert out["n_queries"] == 2


def test_summary_line_fits_the_tail_budget():
    """With far more lines than fit, the final line stays under the
    driver's 2000-char tail, ALWAYS_REPORT names first, then the
    slowest lines."""
    timings = {f"q_line_{i:03d}": float(i) for i in range(300)}
    timings.update({name: 0.01 for name in bench.ALWAYS_REPORT})
    line = bench.summary_line(_detail(timings))
    assert len(line) <= 1900
    packed = list(json.loads(line)["queries"])
    assert packed[:len(bench.ALWAYS_REPORT)] == bench.ALWAYS_REPORT
    assert packed[len(bench.ALWAYS_REPORT)] == "q_line_299"
