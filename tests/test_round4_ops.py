"""Round-4 operators: deterministic sketches (KMV / Count-Min),
priority sampling, logreg quality inference, TF-IDF, bigram LM,
bucketed band join, shoelace way areas, way-intersection join."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from osmexpress_spark.operators import retrieval, sample, sketch, text
from osmexpress_spark.operators.asof import band_join
from osmexpress_spark.operators.spatial_join import way_intersections


# --- KMV -------------------------------------------------------------------
def test_kmv_exact_branch_small_cardinality(spark):
    df = spark.createDataFrame(
        [(f"item{i % 7}",) for i in range(100)], "s string"
    )
    row = sketch.kmv_distinct_estimate(df, F.col("s"), k=256).collect()[0]
    assert row.k_used == 7
    assert row.est_distinct == 7.0  # fewer than k -> exact count


def test_kmv_estimate_within_sampling_error(spark):
    n = 5000
    df = spark.createDataFrame([(f"u{i}",) for i in range(n)], "s string")
    row = sketch.kmv_distinct_estimate(df, F.col("s"), k=256).collect()[0]
    assert row.k_used == 256
    # KMV stderr ~ n/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert abs(row.est_distinct - n) < 0.25 * n
    # duplicates never change the sketch (set semantics)
    dup = spark.createDataFrame(
        [(f"u{i % n}",) for i in range(2 * n)], "s string"
    )
    row2 = sketch.kmv_distinct_estimate(dup, F.col("s"), k=256).collect()[0]
    assert (row2.kth_hash, row2.est_distinct) == (row.kth_hash, row.est_distinct)


# --- Count-Min -------------------------------------------------------------
def test_cms_never_underestimates_and_hits_exact_counts(spark):
    items = [("a",)] * 50 + [("b",)] * 7 + [("c",)] * 1
    df = spark.createDataFrame(items, "s string")
    cms = sketch.cms_build(df, F.col("s"), w=1024, d=3)
    got = {
        r["item"]: r["est_count"]
        for r in sketch.cms_estimate(
            cms, ["a", "b", "c", "nope"], w=1024, d=3
        ).collect()
    }
    true = {"a": 50, "b": 7, "c": 1, "nope": 0}
    for k, t in true.items():
        assert got[k] >= t  # CMS is an upper bound, always
    # with 3 items in 1024*3 buckets there are no collisions
    assert got == true


def test_cms_sketch_is_bounded(spark):
    df = spark.createDataFrame([(f"i{i}",) for i in range(5000)], "s string")
    cms = sketch.cms_build(df, F.col("s"), w=64, d=2)
    assert cms.count() <= 64 * 2


# --- priority sampling -----------------------------------------------------
def test_priority_sample_weights_bias_inclusion(spark):
    # 200 light rows (w=1) vs 200 heavy rows (w=100): the heavy half
    # must dominate a k=40 sample
    rows = [(i, 1) for i in range(200)] + [(i, 100) for i in range(200, 400)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = sample.priority_sample(df, "id", "w", k=40).collect()
    heavy = sum(1 for r in got if r["id"] >= 200)
    assert heavy >= 35
    ranks = sorted(r["sample_rank"] for r in got)
    assert ranks == list(range(1, 41))
    # deterministic across runs
    again = sample.priority_sample(df, "id", "w", k=40).collect()
    assert {r["id"] for r in got} == {r["id"] for r in again}


def test_priority_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, -5), (3, 10)], "id long, w long"
    )
    got = sample.priority_sample(df, "id", "w", k=10).collect()
    assert [r["id"] for r in got] == [3]


# --- logreg quality inference ----------------------------------------------
def test_quality_logreg_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "the quick fox 123"), (2, "")], "id long, text string"
    )
    s = text.quality_logreg(F.col("text"))
    got = {
        r["id"]: (r["q"]["logit_micro"], r["q"]["keep"])
        for r in df.select("id", s.alias("q")).collect()
    }
    w = text.LOGREG_WEIGHTS_MICRO
    # doc 1: 4 tokens, total_len 3+5+3+3=14, alpha 3, distinct stop {the}=1,
    # digit 1
    expect1 = w[0] + w[1] * 4 + w[2] * 14 + w[3] * 3 + w[4] * 1 + w[5] * 1
    assert got[1] == (expect1, expect1 > 0)
    # doc 2: split("") -> [""] => 1 token of length 0, nothing else
    expect2 = w[0] + w[1] * 1
    assert got[2] == (expect2, expect2 > 0)


def test_quality_logreg_rejects_bad_weights(spark):
    with pytest.raises(ValueError):
        text.quality_logreg(F.col("text"), weights_micro=[1, 2])


# --- TF-IDF ----------------------------------------------------------------
def test_tfidf_scores_and_absent_term(spark):
    df = spark.createDataFrame(
        [(1, "x x y"), (2, "x z"), (3, "w w w")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["score"], r["n_hit"])
        for r in retrieval.tfidf_topk(df, ["x", "y", "absent"], k=10).collect()
    }
    # N=3, df_x=2, df_y=1; doc1: 2*(3/2) + 1*(3/1) = 6.0; doc2: 1.5
    assert got[1] == (6.0, 2)
    assert got[2] == (1.5, 1)
    assert 3 not in got  # no hit, no row
    with pytest.raises(ValueError):
        retrieval.tfidf_topk(df, [])


# --- bigram LM -------------------------------------------------------------
@pytest.mark.slow
def test_bigram_nll_counts_and_short_docs(spark):
    from osmexpress_spark.operators import importance

    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "a b", "en"), (3, "solo", "en"),
         (4, "b c b c", "xx")],
        "doc_id long, text string, lang string",
    )
    got = {
        r["id"]: r for r in importance.bigram_nll_scores(
            df, F.col("lang") == "en"
        ).collect()
    }
    assert got[1]["n_bigrams"] == 2 and got[2]["n_bigrams"] == 1
    assert got[4]["n_bigrams"] == 3
    assert 3 not in got  # single-token doc has no bigrams
    # out-of-model doc still scores (add-one smoothing), and repeated
    # high-probability pairs cost less per bigram than unseen ones
    assert all(r["nll_micro"] > 0 for r in got.values())


# --- band join -------------------------------------------------------------
def test_band_join_boundaries(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(1, 7, ts(0)), (2, 7, ts(10_000)), (3, 8, ts(0))],
        "lid long, user long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 7, ts(0)),        # equal time: excluded (strict >)
         (101, 7, ts(1)),        # in band
         (102, 7, ts(3600)),     # exactly band: included (<=)
         (103, 7, ts(3601)),     # out
         (104, 9, ts(1))],       # other key
        "rid long, user long, ts timestamp",
    )
    got = {
        (r["lid"], r["r_rid"])
        for r in band_join(left, right, "user", "ts", "ts", 3600).collect()
    }
    assert got == {(1, 101), (1, 102)}
    with pytest.raises(ValueError):
        band_join(left, right, "user", "ts", "ts", 0)


# --- way areas -------------------------------------------------------------
def test_way_areas_unit_square_and_orientation(spark):
    from osmexpress_spark import functions as fn

    # square of side 10 at an offset (translation invariance), CCW and CW
    locs = spark.createDataFrame(
        [(1, 1000, 2000), (2, 1010, 2000), (3, 1010, 2010), (4, 1000, 2010)],
        "id long, lon int, lat int",
    )
    ways = spark.createDataFrame(
        [(10, [1, 2, 3, 4, 1]),      # CCW: +2A = 200
         (11, [1, 4, 3, 2, 1]),      # CW: -200
         (12, [1, 2, 3]),            # open: excluded
         (13, [1, 2, 1])],           # closed but < 4 refs: excluded
        "id long, nodes array<long>",
    )
    got = {r["id"]: (r["n_vertices"], r["area2"])
           for r in fn.way_areas(ways, locs).collect()}
    assert got == {10: (5, 200), 11: (5, -200)}


# --- way intersections -----------------------------------------------------
@pytest.mark.slow
def test_way_intersections_counts_and_degree_cap(spark):
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 12),
         (9, 10), (9, 11), (9, 12)],   # node 9: degree 3 hub
        "node_id long, way_id long",
    )
    got = {(r["way_a"], r["way_b"]): r["n_shared_nodes"]
           for r in way_intersections(edges).collect()}
    assert got == {(10, 11): 3, (10, 12): 2, (11, 12): 1}
    capped = {(r["way_a"], r["way_b"]): r["n_shared_nodes"]
              for r in way_intersections(edges, max_node_degree=2).collect()}
    assert capped == {(10, 11): 2, (10, 12): 1}
    assert way_intersections(edges, min_shared=2).count() == 2


# --- ANN recall report -----------------------------------------------------
def test_ann_recall_counts_overlap(spark):
    from osmexpress_spark.operators import similarity

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (1, 12), (2, 77), (2, 78), (2, 79)],
        "query_id long, neighbor_id long",
    )
    got = {r["query_id"]: (r["n_exact"], r["n_overlap"])
           for r in similarity.ann_recall(exact, approx).collect()}
    assert got == {1: (3, 2), 2: (3, 0)}


# --- integrity audit -------------------------------------------------------
@pytest.mark.slow
def test_integrity_audit_counts_dangling_refs(spark):
    from osmexpress_spark.operators.audit import integrity_audit

    locs = spark.createDataFrame([(1,), (2,)], "id long")
    ways = spark.createDataFrame(
        [(10, [1, 2, 999]), (11, [2, 2])], "id long, nodes array<long>"
    )
    rels = spark.createDataFrame(
        [(20,
          [{"ref": 1, "type": "node", "role": ""},
           {"ref": 555, "type": "node", "role": ""},
           {"ref": 10, "type": "way", "role": ""},
           {"ref": 777, "type": "way", "role": ""},
           {"ref": 21, "type": "relation", "role": ""}]),
         (21, [{"ref": 888, "type": "relation", "role": ""}])],
        "id long, members array<struct<ref:long,type:string,role:string>>",
    )
    got = {r["category"]: (r["n_refs"], r["n_dangling"])
           for r in integrity_audit(locs, ways, rels).collect()}
    assert got == {
        "way_node": (5, 1),          # 999 dangling; duplicate 2 counts twice
        "relation_node": (2, 1),     # 555
        "relation_way": (2, 1),      # 777
        "relation_relation": (2, 1), # 888 (21 exists)
    }


# --- funnel / cohort -------------------------------------------------------
@pytest.mark.slow
def test_funnel_requires_ordered_progression(spark):
    from osmexpress_spark.operators.events import funnel_stages

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    ev = spark.createDataFrame(
        [
            # user 1: view -> click -> purchase, fully ordered
            (1, "view", ts(0)), (1, "click", ts(1)), (1, "purchase", ts(2)),
            # user 2: purchase BEFORE click: stops at stage 2
            (2, "view", ts(0)), (2, "purchase", ts(1)), (2, "click", ts(2)),
            # user 3: click only, never viewed: no funnel entry at all
            (3, "click", ts(0)),
            # user 4: view only
            (4, "view", ts(5)),
            # user 5: click at the SAME instant as view: strict > excludes
            (5, "view", ts(0)), (5, "click", ts(0)),
        ],
        "user_id long, event_type string, ts timestamp",
    )
    got = {r["user"]: r["stage"] for r in funnel_stages(
        ev,
        [F.col("event_type") == "view",
         F.col("event_type") == "click",
         F.col("event_type") == "purchase"],
    ).collect()}
    assert got == {1: 3, 2: 2, 4: 1, 5: 1}
    with pytest.raises(ValueError):
        funnel_stages(ev, [])


def test_cohort_retention_week_buckets(spark):
    from osmexpress_spark.operators.events import cohort_retention

    d0 = dt.datetime(2024, 3, 4)
    ev = spark.createDataFrame(
        [
            (1, d0), (1, d0 + dt.timedelta(days=3)),      # week 0 twice
            (1, d0 + dt.timedelta(days=8)),               # week 1
            (2, d0 + dt.timedelta(days=1)),               # own cohort, week 0
            (2, d0 + dt.timedelta(days=15)),              # week 2
        ],
        "user_id long, ts timestamp",
    )
    got = {(r.cohort_day, r.week_offset): r.n_users
           for r in cohort_retention(ev).collect()}
    assert got == {
        ("2024-03-04", 0): 1, ("2024-03-04", 1): 1,
        ("2024-03-05", 0): 1, ("2024-03-05", 2): 1,
    }


# --- fuzzy token pairs -----------------------------------------------------
@pytest.mark.slow
def test_fuzzy_token_pairs_blocking_and_distance(spark):
    from osmexpress_spark.operators import dedup

    df = spark.createDataFrame(
        [("spark",), ("spork",), ("sprk",), ("spark",), ("quartz",),
         ("park",), ("abc",)],
        "tok string",
    )
    got = {(r.a, r.b): r.dist
           for r in dedup.fuzzy_token_pairs(df, "tok").collect()}
    assert got[("spark", "spork")] == 1
    assert got[("spark", "sprk")] == 1   # deletion
    assert got[("park", "spark")] == 1   # shares last char block
    assert ("abc", "spark") not in got   # min_len drops 'abc'
    assert all(d <= 2 for d in got.values())
    assert not any("quartz" in p for p in got)


def test_event_transitions_lag_per_user(spark):
    from osmexpress_spark.operators.events import transition_counts

    t0 = dt.datetime(2024, 5, 1)
    ev = spark.createDataFrame(
        [(1, 1, "a", t0), (2, 1, "b", t0 + dt.timedelta(seconds=1)),
         (3, 1, "a", t0 + dt.timedelta(seconds=2)),
         (4, 2, "a", t0),  # other user: no cross-user transition
         (5, 2, "a", t0 + dt.timedelta(seconds=5))],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    got = {(r.prev_type, r.next_type): r.n
           for r in transition_counts(ev).collect()}
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("a", "a"): 1}


# --- graph analytics -------------------------------------------------------
@pytest.mark.slow
def test_pagerank_micro_integer_exact_star(spark):
    from osmexpress_spark.operators.graph import pagerank_micro

    # star: 1 <-> {2, 3, 4} (symmetric edges)
    pairs = [(1, 2), (1, 3), (1, 4)]
    e = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    got = {r["id"]: r["pr_micro"] for r in pagerank_micro(e, iterations=2).collect()}
    # iter 1: center gets 150000 + 17*3_000_000//20 = 2_700_000,
    # each leaf 150000 + 17*(1_000_000//3)//20 = 433_333
    # iter 2: center 150000 + 17*(3*433_333)//20 = 1_254_999
    #         leaf 150000 + 17*(2_700_000//3)//20 = 915_000
    assert got[1] == 150_000 + (17 * (3 * (150_000 + (17 * (1_000_000 // 3)) // 20))) // 20
    assert got[2] == got[3] == got[4] == 150_000 + (17 * ((150_000 + (17 * 3_000_000) // 20) // 3)) // 20
    # total mass is conserved up to integer truncation (strictly below)
    assert sum(got.values()) <= 4_000_000


@pytest.mark.slow
def test_triangle_count_closed_wedges_only(spark):
    from osmexpress_spark.operators.graph import triangle_count

    e = spark.createDataFrame(
        # triangle {1,2,3}; path 3-4-5 (open); duplicate + reversed edges
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 1), (1, 2)],
        "id_a long, id_b long",
    )
    assert triangle_count(e).collect()[0]["n_triangles"] == 1
    # two triangles sharing an edge: {1,2,3} + {2,3,6}
    e2 = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (2, 6), (3, 6)], "id_a long, id_b long"
    )
    assert triangle_count(e2).collect()[0]["n_triangles"] == 2


def test_resample_counts_zero_fills_gaps(spark):
    from osmexpress_spark.operators.events import resample_counts

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    ev = spark.createDataFrame(
        [(1, t0), (1, t0), (1, t0 + dt.timedelta(hours=3)),  # gap hours 1,2
         (2, t0)],                                            # single bucket
        "user_id long, ts timestamp",
    )
    got = {(r["user"], r["bucket_epoch"]): r["n"]
           for r in resample_counts(ev).collect()}
    e0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    assert got == {
        (1, e0): 2, (1, e0 + 3600): 0, (1, e0 + 7200): 0, (1, e0 + 10800): 1,
        (2, e0): 1,
    }


# --- sketch mergeability ---------------------------------------------------
@pytest.mark.slow
def test_kmv_merge_equals_sketch_of_union(spark):
    from osmexpress_spark.operators import sketch

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "s string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], "s string")
    k = 64
    merged = sketch.kmv_merge(
        [sketch.kmv_minima(a, F.col("s"), k),
         sketch.kmv_minima(b, F.col("s"), k)], k,
    )
    direct = sketch.kmv_minima(a.unionByName(b), F.col("s"), k)
    assert [r["h"] for r in merged.collect()] == \
           [r["h"] for r in direct.collect()]


@pytest.mark.slow
def test_cms_merge_equals_sketch_of_union(spark):
    from osmexpress_spark.operators import sketch

    a = spark.createDataFrame([("x",)] * 5 + [("y",)] * 2, "s string")
    b = spark.createDataFrame([("x",)] * 3 + [("z",)] * 4, "s string")
    w, d = 64, 3
    merged = sketch.cms_merge([
        sketch.cms_build(a, F.col("s"), w=w, d=d),
        sketch.cms_build(b, F.col("s"), w=w, d=d),
    ])
    got = {r["item"]: r["est_count"]
           for r in sketch.cms_estimate(merged, ["x", "y", "z"], w=w, d=d).collect()}
    assert got == {"x": 8, "y": 2, "z": 4}


@pytest.mark.slow
def test_integrity_audit_empty_categories_report_zero(spark):
    from osmexpress_spark.operators.audit import integrity_audit

    locs = spark.createDataFrame([(1,)], "id long")
    ways = spark.createDataFrame([(10, [1])], "id long, nodes array<long>")
    rels = spark.createDataFrame(
        [], "id long, members array<struct<ref:long,type:string,role:string>>"
    )
    got = {r["category"]: (r["n_refs"], r["n_dangling"])
           for r in integrity_audit(locs, ways, rels).collect()}
    # no relations at all: every relation_* category must be (0, 0),
    # never (0, None) — the CLI sums n_dangling
    assert got == {
        "way_node": (1, 0), "relation_node": (0, 0),
        "relation_way": (0, 0), "relation_relation": (0, 0),
    }


@pytest.mark.slow
def test_store_time_travel_rebuilds_partial_store(spark, tmp_path, monkeypatch):
    """A crash between commits leaves the store at v0; the contract
    query must wipe and rebuild, not append (commit() always writes
    prev+1, so appending would shift every version's content)."""
    import os
    import shutil

    from osmexpress_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(Q.__file__))),
        ".fixtures", "store_tt_sf0.001",
    )
    full = {tuple(r) for r in Q.q_store_time_travel(spark, sf).collect()}
    # simulate the crash: drop v1 and v2 manifests, keep v0
    for v in (1, 2):
        os.remove(os.path.join(root, "_versions", f"v{v:012d}.json"))
    again = {tuple(r) for r in Q.q_store_time_travel(spark, sf).collect()}
    assert again == full
    shutil.rmtree(root)  # leave no half-state for other tests


def test_trend_slopes_hand_computed(spark):
    from osmexpress_spark.operators.events import trend_slopes

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # group 'up': y = 2.0 + 0.001 * minutes -> slope 1 milli/min
        ("up", t0, 2.0),
        ("up", t0 + dt.timedelta(minutes=10), 2.010),
        ("up", t0 + dt.timedelta(minutes=20), 2.020),
        # group 'flat': constant
        ("flat", t0, 5.0),
        ("flat", t0 + dt.timedelta(minutes=30), 5.0),
        # group 'solo': one point -> den 0 -> NULL slope
        ("solo", t0, 9.9),
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    got = {r.event_type: (r.n, r.slope_milli_per_min)
           for r in trend_slopes(ev).collect()}
    assert got["up"] == (3, 1.0)
    assert got["flat"] == (2, 0.0)
    assert got["solo"] == (1, None)


# --- observe-based health metrics ------------------------------------------
@pytest.mark.slow
def test_observe_curation_counts_ride_one_action(spark):
    from osmexpress_spark.operators import metrics, text

    docs = spark.createDataFrame(
        [(1, "the fox and the dog ran to a tree in one of the yards "
             "over and over again " * 2),
         (2, "short"),
         (3, "mail me at a@b.com please " + "the a of and to in " * 5)],
        "doc_id long, text string",
    )
    obs, out = metrics.observe_curation(docs)
    got_rows = out.count()  # ONE action; metrics ride it
    m = obs.get
    assert got_rows == 3 and m["n_rows"] == 3
    # cross-check each counter against an explicit second pass
    c = text.gopher_flags(out["text"])["keep"]
    assert m["n_gate_pass"] == out.where(c).count()
    assert m["n_with_pii"] == 1
    assert m["n_tokens"] == sum(
        r[0] for r in out.select(text.token_count(out["text"])).collect()
    )


def test_observe_metrics_requires_metrics(spark):
    from osmexpress_spark.operators import metrics

    df = spark.range(3)
    with pytest.raises(ValueError):
        metrics.observe_metrics(df, "x")


# --- containment / incremental dedup ---------------------------------------
def test_containment_is_directional(spark):
    from osmexpress_spark.operators import dedup as dd

    big = "w" + " w".join(str(i) for i in range(40))  # w0..w39 spaced
    small = " ".join(f"w{i}" for i in range(10))      # fully inside big
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40))), (2, small),
         (3, "x y z q r s t u v")],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): (r.n_common, r.n_a)
           for r in dd.containment_pairs(df, "doc_id", "text", k=5).collect()}
    # small's 6 shingles are all in big: containment(2 in 1) = 100%
    assert got[(2, 1)] == (6, 6)
    # big in small is 6/36 = 16.7% < 25%: directional row absent
    assert (1, 2) not in got
    assert not any(3 in p for p in got)
    _ = big


@pytest.mark.slow
def test_incremental_dedup_never_pairs_corpus_with_itself(spark):
    from osmexpress_spark.operators import dedup as dd

    dup = "same text repeated here for the minhash bands to match fully"
    df_corpus = spark.createDataFrame(
        [(1, dup), (2, "another completely different document body")],
        "doc_id long, text string",
    )
    df_new = spark.createDataFrame(
        [(10, dup), (11, "nothing like anything in the corpus at all")],
        "doc_id long, text string",
    )
    got = {(r.new_id, r.corpus_id)
           for r in dd.incremental_dedup_pairs(
               df_corpus, df_new, "doc_id", "text").collect()}
    assert (10, 1) in got
    assert all(n in (10, 11) and c in (1, 2) for n, c in got)


def test_priority_sample_per_key_bounded_and_weighted(spark):
    from osmexpress_spark.operators import sample

    rows = [(g, i, 1 if i < 50 else 100)
            for g in ("a", "b") for i in range(100)]
    df = spark.createDataFrame(rows, "grp string, id long, w long")
    got = sample.priority_sample_per_key(df, "grp", "id", "w", k=10).collect()
    per = {}
    for r in got:
        per.setdefault(r["grp"], []).append(r)
    for g, rs in per.items():
        assert len(rs) == 10
        assert sorted(r["sample_rank"] for r in rs) == list(range(1, 11))
        heavy = sum(1 for r in rs if r["id"] >= 50)
        assert heavy >= 8, (g, heavy)  # weight-100 rows dominate


def test_store_time_travel_rekeys_on_testdata_regeneration(spark, tmp_path):
    """The driver regenerates /root/testdata each round in the SAME
    checkout: the fingerprint must change when orders.parquet content
    changes, so a stale store from the previous round's data is never
    served."""
    import shutil

    from osmexpress_spark import queries as Q

    d1 = str(tmp_path / "sfA"); d2 = str(tmp_path / "sfA")  # same path
    import os
    os.makedirs(d1, exist_ok=True)
    shutil.copy("/root/testdata/sf0.001/orders.parquet",
                os.path.join(d1, "orders.parquet"))
    f1 = Q._tt_fingerprint(d1)
    # regenerate: different content at the same path
    shutil.copy("/root/testdata/sf0.01/orders.parquet",
                os.path.join(d2, "orders.parquet"))
    f2 = Q._tt_fingerprint(d2)
    assert f1 != f2
    # and a missing file still yields a stable (path-only) key
    assert Q._tt_fingerprint(str(tmp_path / "nope")) == \
           Q._tt_fingerprint(str(tmp_path / "nope"))


# --- Visvalingam simplification --------------------------------------------
def test_visvalingam_model_and_invariants(spark):
    from osmexpress_spark.operators.geometry import simplify_ways, visvalingam

    # collinear interior vertex has area 0: always removed first
    pts = [(0, 0), (5, 0), (10, 0), (10, 10)]
    assert visvalingam(pts, 1) == [0, 2, 3]
    # high threshold collapses to endpoints
    assert visvalingam(pts, 10**9) == [0, 3]
    # threshold 0 keeps everything (strict <)
    assert visvalingam(pts, 0) == [0, 1, 2, 3]
    # distributed form matches the model and keeps endpoints
    locs = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(
            [(0, 0), (5, 1), (10, 0), (10, 10), (20, 10)])],
        "id long, lon int, lat int",
    )
    ways = spark.createDataFrame(
        [(1, [0, 1, 2, 3, 4]), (2, [0, 4])], "id long, nodes array<long>"
    )
    got = {r["id"]: (list(r["nodes"]), r["n_before"], r["n_after"])
           for r in simplify_ways(ways, locs, min_area2=25).collect()}
    coords = [(0, 0), (5, 1), (10, 0), (10, 10), (20, 10)]
    keep = visvalingam(coords, 25)
    assert got[1] == ([k for k in keep], 5, len(keep))
    assert got[1][0][0] == 0 and got[1][0][-1] == 4
    assert got[2] == ([0, 4], 2, 2)


@pytest.mark.slow
def test_store_time_travel_rebuilds_in_place_on_stale_fingerprint(spark):
    """Regeneration invalidation must rebuild the FIXED directory in
    place (the _fixture_index pattern) — no stranded store_tt_<fp>
    directories accumulating across rounds."""
    import glob
    import os

    from osmexpress_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    fixtures = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(Q.__file__))),
        ".fixtures",
    )
    full = {tuple(r) for r in
            Q.q_store_time_travel(spark, sf).collect()}
    root = os.path.join(fixtures, "store_tt_sf0.001")
    with open(os.path.join(root, "src.fp"), "w") as f:
        f.write("stale-from-last-round")
    again = {tuple(r) for r in
             Q.q_store_time_travel(spark, sf).collect()}
    assert again == full
    with open(os.path.join(root, "src.fp")) as f:
        assert f.read().strip() == Q._tt_fingerprint(sf)  # refreshed
    assert glob.glob(os.path.join(fixtures, "store_tt_sf0.001*")) == [root]


def test_rate_spikes_flags_planted_anomaly(spark):
    """10 quiet hours (~5 events) + one 50-event storm for type 'a';
    type 'b' is flat and must not flag. Median/MAD computed by hand."""
    import datetime as dt

    from osmexpress_spark.operators import events as EV

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    counts_a = [5, 6, 5, 4, 5, 50, 5, 6, 4, 5, 5]
    for h, n in enumerate(counts_a):
        for _ in range(n):
            rows.append((eid, t0 + dt.timedelta(hours=h, minutes=1), "a"))
            eid += 1
    for h in range(11):
        for _ in range(7):
            rows.append((eid, t0 + dt.timedelta(hours=h, minutes=2), "b"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    got = EV.rate_spikes(df).collect()
    # hand model: sorted counts_a -> lower median 5; devs sorted ->
    # lower median (MAD) 0? devs = [0,1,0,1,0,45,0,1,1,0,0] sorted
    # [0,0,0,0,0,0,1,1,1,1,45] -> (11+1)//2 = 6th -> 0. MAD 0 flags
    # every deviating hour of 'a'; 'b' flat -> never flags.
    assert all(r.event_type == "a" for r in got)
    storm = [r for r in got if r.n == 50]
    assert len(storm) == 1 and storm[0].med == 5 and storm[0].mad == 0
    # deviating quiet hours flagged too under the degenerate-MAD reading
    assert {r.n for r in got} == {4, 6, 50}


def test_rate_spikes_mad_nonzero_suppresses_noise(spark):
    """With a genuinely spread baseline (nonzero MAD), small jitter is
    NOT flagged and only the planted storm survives the 3x bar."""
    import datetime as dt

    from osmexpress_spark.operators import events as EV

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # counts 1..9 then 100: median 5; devs [4,3,2,1,0,1,2,3,4,95]
    # sorted devs -> lower median (10+1)//2=5th -> 2 => MAD 2; bar 6
    for h, n in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 100]):
        for _ in range(n):
            rows.append((eid, t0 + dt.timedelta(hours=h), "a"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    got = EV.rate_spikes(df).collect()
    assert [(r.n, r.med, r.mad) for r in got] == [(100, 5, 2)]
