"""Physical-plan assertions: the properties that make the contract
queries scale (filter pushdown to the parquet scan, column pruning,
broadcast of small sides, JVM-only hot paths) must hold structurally,
not just produce correct rows — a correct plan that full-scans at
sf0.001 full-scans at 100 TB too."""

from __future__ import annotations

import pytest

from osmexpress_spark import registry

from conftest import assert_no_key_exchange  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _final_plan(df) -> str:
    # run first so AQE settles on the final physical plan
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


_BCAST = ("BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, "
          "false]),false), [plan_id=10]")
_REUSED_BCAST_PLAN = f"""AdaptiveSparkPlan isFinalPlan=true
+- BroadcastHashJoin [k#1L], [k#7L], Inner, BuildRight, false
   :- BroadcastHashJoin [k#1L], [k#4L], Inner, BuildRight, false
   :  :- Scan parquet [k#1L]
   :  +- {_BCAST}
   :     +- Scan parquet [k#4L]
   +- ReusedExchange [k#7L], {_BCAST}
"""


def test_key_exchange_gate_passes_reused_broadcast():
    assert_no_key_exchange(_REUSED_BCAST_PLAN)


@pytest.mark.parametrize("exchange", [
    "Exchange hashpartitioning(k#7L, 8), ENSURE_REQUIREMENTS, [plan_id=12]",
    "ReusedExchange [k#7L], Exchange hashpartitioning(k#7L, 8), "
    "ENSURE_REQUIREMENTS, [plan_id=12]",
])
def test_key_exchange_gate_still_fails_hash_exchange(exchange):
    plan = _REUSED_BCAST_PLAN + f"   +- {exchange}\n"
    with pytest.raises(AssertionError):
        assert_no_key_exchange(plan)


def test_range_scan_pushes_or_of_ranges(spark):
    plan = _final_plan(registry.queries()["q_range_scan"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # the OR-of-BETWEEN covering filter reaches the scan, not a
    # post-scan Filter only
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_orderkey" in pushed and pushed.strip()


def test_point_lookup_pushes_key_equality(spark):
    plan = _final_plan(registry.queries()["q_point_lookup"](spark, SF_DIR))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "EqualTo(o_orderkey" in pushed


def test_projection_prunes_columns(spark):
    plan = _final_plan(registry.queries()["q_projection"](spark, SF_DIR))
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "c_custkey" in schema and "c_name" in schema
    # untouched wide columns never reach the scan
    assert "c_address" not in schema and "c_comment" not in schema


def test_star_join_broadcasts_small_dims(spark):
    plan = _final_plan(registry.queries()["q_star_join_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_reverse_membership_broadcasts_filtered_dim(spark):
    plan = _final_plan(registry.queries()["q_reverse_membership"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the brand filter is pushed into the part scan feeding the build side
    assert "EqualTo(p_brand,Brand#1)" in plan


def test_text_queries_stay_jvm_side(spark):
    # language-ID / quality / token stats are built-in-function
    # pipelines — no Python eval operator may appear in the hot path
    for name in ("q_doc_token_stats", "q_doc_lang_id", "q_doc_quality"):
        plan = _final_plan(registry.queries()[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_salted_agg_two_phase(spark):
    plan = _final_plan(registry.queries()["q_salted_agg"](spark, SF_DIR))
    # phase 1 groups by (key, salt), phase 2 by key: >= 2 shuffle-side
    # HashAggregate pairs and no Python operators
    assert plan.count("HashAggregate") >= 4
    assert "BatchEvalPython" not in plan


def test_tag_filter_whole_stage_codegen(spark):
    plan = _final_plan(registry.queries()["q_tag_filter"](spark, SF_DIR))
    # "*(N)" prefixes mark operators fused into a WholeStageCodegen stage
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan


def test_global_shuffle_has_no_single_partition_stage(spark):
    # exact global positions must come from md5-prefix shards + driver
    # offsets — never a row_number over an all-data single partition
    plan = _final_plan(registry.queries()["q_global_shuffle"](spark, SF_DIR))
    assert "Window" in plan  # the per-shard rank window is present
    assert "SinglePartition" not in plan


def test_semantic_dedup_broadcasts_reps(spark):
    # representative election is a 16-row agg that broadcasts back;
    # the corpus side must never sort-merge or go through Python
    plan = _final_plan(registry.queries()["q_semantic_dedup"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_importance_weights_broadcast_model(spark):
    # the 256-row ratio table broadcasts; the corpus joins it without a
    # corpus-sized shuffle on the model side, and nothing runs in Python
    plan = _final_plan(registry.queries()["q_importance_weights"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_importance_resample_is_takeordered(spark):
    # top-k selection must be a TakeOrdered partial top-k, not a global
    # sort / single-partition rank over the full weight frame
    plan = _final_plan(registry.queries()["q_importance_resample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_pq_topk_broadcasts_queries_no_python(spark):
    # candidate side (corpus) never shuffles: queries broadcast across
    # the encode scan; codebook lookups are expression literals
    plan = _final_plan(registry.queries()["q_pq_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_encode_zero_shuffle(spark):
    # encoding is a pure column expression over one scan; no KEY
    # shuffle — the r11 scale-adaptive embeddings fan-out may
    # round-robin the small vector frame when the scan is narrower
    # than the session's slots
    plan = _final_plan(registry.queries()["q_pq_encode"](spark, SF_DIR))
    assert_no_key_exchange(plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gopher_rules_zero_shuffle(spark):
    plan = _final_plan(registry.queries()["q_gopher_rules"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dup_span_census_single_aggregate_no_python(spark):
    # explode + one hash aggregate; the only shuffle key is the window
    # hash (map-side partial agg), text never shuffles
    plan = _final_plan(registry.queries()["q_dup_ngram_stats"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_curation_pipeline_single_plan_no_python(spark):
    # gates are scan-side predicates; survivor election is one hash
    # window; the span screen joins stats — all one declarative plan
    plan = _final_plan(registry.queries()["q_curation_pipeline"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfpq_probe_join_no_corpus_shuffle(spark):
    # probe rows broadcast into the candidate scan; the corpus never
    # sort-merges
    plan = _final_plan(registry.queries()["q_ivfpq_topk"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_contamination_filter_is_scan_side(spark):
    # the bloom membership test must appear as a Filter BEFORE the
    # broadcast join (pruning the explode output), all JVM-side
    plan = _final_plan(
        registry.queries()["q_contamination_bloom"](spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
    assert "shiftrightunsigned" in plan  # the bit test survived codegen
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_perplexity_scores_broadcast_model(spark):
    # the 256-row LM broadcasts; corpus shuffles only (doc,bucket)
    # partial counts, nothing in Python
    plan = _final_plan(registry.queries()["q_perplexity_scores"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_logreg_zero_shuffle_no_python(spark):
    plan = _final_plan(registry.queries()["q_quality_logreg"](spark, SF_DIR))
    assert "Exchange" not in plan and "Python" not in plan


def test_tfidf_takeordered_broadcast_stats(spark):
    plan = _final_plan(registry.queries()["q_tfidf_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "Python" not in plan


def test_kmv_takeordered_no_python(spark):
    plan = _final_plan(registry.queries()["q_kmv_distinct"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan and "Python" not in plan


def test_cms_bounded_hashagg_no_python(spark):
    plan = _final_plan(registry.queries()["q_cms_heavy_hitters"](spark, SF_DIR))
    assert "HashAggregate" in plan and "Python" not in plan


def test_bigram_model_broadcasts(spark):
    plan = _final_plan(registry.queries()["q_bigram_perplexity"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "Python" not in plan


def test_band_join_is_equi_join(spark):
    plan = _final_plan(registry.queries()["q_band_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_pairs_join_key_includes_length_bucket(spark):
    # the anti-skew guarantee: candidate blocks are keyed on
    # (end_char, length_bucket), never on the Zipf-skewed character
    # alone — both block joins must carry __bk in their equi-key
    plan = _final_plan(registry.queries()["q_fuzzy_token_pairs"](spark, SF_DIR))
    join_lines = [
        ln for ln in plan.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert join_lines, "expected equi-joins in the fuzzy-pairs plan"
    assert all("__bk" in ln and "__k" in ln for ln in join_lines)
    assert "CartesianProduct" not in plan


def test_staged_round6_plans_stay_jvm_side(spark):
    """Every round-6-staged (now promoted) query's hot path must be Python-free (the
    fusion/drift/outlier/budget/html family is pure column expressions
    + bounded driver transfers by design)."""
    for name in ("q_dist_drift", "q_dist_drift_by", "q_mad_outliers",
                 "q_winsorized_stats", "q_rrf_fusion", "q_html_strip",
                 "q_token_budget"):
        plan = _final_plan(registry.queries()[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_html_strip_is_one_scan_no_exchange(spark):
    """The crawl-extraction chain must pipeline inside the scan stage —
    any Exchange would mean the regex chain broke whole-stage fusion."""
    plan = _final_plan(registry.queries()["q_html_strip"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_drift_census_aggregates_map_side(spark):
    """Both snapshot sketches must partial-aggregate before their
    shuffle (two HashAggregate levels), so the shuffle carries bucket
    partials, never raw rows."""
    plan = _final_plan(registry.queries()["q_dist_drift"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # partial+final per side
    assert "partial_count" in plan


def test_rrf_fusion_scans_prune_columns(spark):
    """The BM25 side must read only (doc_id, text); the vector side
    only (vec_id, embedding) — fusion cannot drag wide columns."""
    plan = _final_plan(registry.queries()["q_rrf_fusion"](spark, SF_DIR))
    for schema_line in [
        seg.splitlines()[0] for seg in plan.split("ReadSchema: ")[1:]
    ]:
        assert "lang" not in schema_line and "source" not in schema_line
        assert "label" not in schema_line


def test_staged_round6c_plans_stay_jvm_side(spark):
    """This session's staged queries: Python-free hot paths. (No
    CartesianProduct assertion here: q_source_overlap's size-matrix
    skeleton intentionally cross-joins two S-row aggregates, and the
    NB scorer cross-joins the per-class default — both bounded by
    design, never corpus-sized.)"""
    for name in ("q_shard_manifest", "q_source_overlap",
                 "q_kcenter_select", "q_nb_reliability",
                 "q_embedding_drift"):
        plan = _final_plan(registry.queries()[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_shard_manifest_single_exchange_map_side(spark):
    """The sink manifest is ONE map-side-combined aggregate: the
    corpus never shuffles, only <= shards partial rows per task do."""
    plan = _final_plan(
        registry.queries()["q_shard_manifest"](spark, SF_DIR)
    )
    assert plan.count("Exchange") == 1
    assert "partial_bit_xor" in plan and "partial_count" in plan


def test_kcenter_assignment_no_join_no_exchange(spark):
    """k-center's final assignment is scan-side over a centroid
    literal: zero joins, zero exchanges in the returned plan."""
    plan = _final_plan(
        registry.queries()["q_kcenter_select"](spark, SF_DIR)
    )
    assert "Join" not in plan and "Exchange" not in plan


def test_staged_round7_plans_stay_jvm_side(spark):
    """Round-7 staged queries: Python-free hot paths, no cartesian
    corpus products. (q_stream_drift is excluded — its work happens
    inside a foreachBatch sink, exercised by its gate + e2e test.)"""
    # q_embedding_gram moved OFF this list in r12: its gram partials
    # now come from a deliberate mapInArrow+numpy seam (A/B-measured
    # 10x at 32x rows, results bit-identical — OPTIMIZATION_r12.md);
    # its own plan gate below pins the new shape.
    for name in ("q_hard_negatives_ivf",
                 "q_softdedup_weights", "q_vocab_growth",
                 "q_ngram_novelty", "q_rank_blend"):
        plan = _final_plan(registry.queries()[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_embedding_gram_single_mapside_exchange(spark):
    """The gram matrix is ONE map-side-combined aggregate: the corpus
    never shuffles, only <= dim*(dim+1)/2 partial rows per task do,
    and there is no window or join anywhere in the plan.  r12: the
    per-task partial is a mapInArrow integer matmul (one 2,080-row
    batch partial instead of 2,080 exploded rows per doc); the
    aggregate over the partials keeps the single key shuffle."""
    plan = _final_plan(
        registry.queries()["q_embedding_gram"](spark, SF_DIR)
    )
    # exactly one KEY shuffle (the map-side-combined aggregate); the
    # r11 scale-adaptive embeddings fan-out may add a round-robin
    # exchange before the per-row dot products
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInArrow" in plan
    assert "partial_sum" in plan
    assert "Join" not in plan and "Window" not in plan


def test_vocab_growth_no_global_order_window(spark):
    """Bucket assignment must be the scan-side floor expression, never
    a global-order window (ntile/percent_rank would plan a
    single-partition sort)."""
    plan = _final_plan(
        registry.queries()["q_vocab_growth"](spark, SF_DIR)
    )
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_ngram_novelty_no_fanout_join(spark):
    """The reference-membership join must be an equi-join against the
    DISTINCT reference shingle set (at most one match per probe row) —
    never a nested-loop or cartesian shape."""
    plan = _final_plan(
        registry.queries()["q_ngram_novelty"](spark, SF_DIR)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan  # the distinct + the per-doc counts


def test_rank_blend_corpus_never_sorts(spark):
    """Windows in the rank-blend plan may run only over the bounded
    sketch aggregates: the corpus side reaches its output through
    broadcast bucket joins, so no corpus-sized global sort exists.
    The bounded windows sit AFTER full aggregation (their input is
    <=1025 rows), which the plan shows as the window's child being an
    aggregate, never the raw scan."""
    df = registry.queries()["q_rank_blend"](spark, SF_DIR)
    plan = _final_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # one per measure
    # every Window in the tree must descend from a HashAggregate,
    # not directly from a file scan
    import re

    for seg in plan.split("Window")[1:]:
        # the scan marker inside this window's subtree indicates order:
        # an aggregate boundary must appear before any scan below it
        agg_pos = seg.find("HashAggregate")
        scan_pos = seg.find("Scan parquet")
        assert agg_pos != -1 and (scan_pos == -1 or agg_pos < scan_pos)


def test_staged_round7b_plans_stay_jvm_side(spark):
    """The later round-7 staged queries: Python-free, no cartesian
    products, and the per-domain budget window partitions by key
    (never a single-partition global sort)."""
    for name in ("q_budget_by_domain", "q_modality_alignment",
                 "q_profile_diff"):
        plan = _final_plan(registry.queries()[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    plan = _final_plan(
        registry.queries()["q_budget_by_domain"](spark, SF_DIR)
    )
    assert "SinglePartition" not in plan


def test_round9_staged_plans_stay_jvm_side(spark):
    """Round-9 staged (now promoted) queries: Python-free hot paths,
    no cartesian products, and the prefix-filter join is an equi-join
    on the shingle hash (a BroadcastNestedLoop/Cartesian would mean
    the prefix index degenerated to all-pairs)."""
    for name in ("q_prefix_filter_pairs", "q_bpe_token_census",
                 "q_join_order_advice", "q_audio_au_stats",
                 "q_audio_mp3_census"):
        plan = _final_plan(registry.queries()[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        if name != "q_join_order_advice":
            # the advisor's crossJoin(broadcast(<1-row estimate>)) is
            # the sanctioned BNLJ shape; the other two must stay pure
            # equi-join trees
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_robots_admit_single_exchange(spark):
    """Round-11 fold (VERDICT r10 next-round #6): robots_admit keeps
    non-matching fan-out rows with a NULL rank and carries the URL
    columns through the aggregate, so the WHOLE admission operator is
    exactly one fact-table Exchange (the url_id hash aggregate) — the
    old shape spent a second fact-sized shuffle joining the winners
    back to the URL table."""
    df = registry.queries()["q_robots_admit"](spark, SF_DIR)
    plan = _final_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan  # the rules dimension broadcast
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
