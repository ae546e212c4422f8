"""Round-8 fixes for the rollup store (VERDICT/ADVICE r07):

- rollup_regrain cascades the quantile + KMV sidecars (re-truncate
  bucket + sum counts / re-rank min-k), so a derived store answers the
  same dashboard measures as a direct build at the coarser grain;
- a date-only end bound selects through the END of that day on every
  grain (the hour-grain pitfall);
- rollup_distinct's global branch pre-reduces via orderBy+limit
  (TakeOrdered) instead of a single-partition rank window;
- meta.json publication is temp-file-plus-rename (no torn reads).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from osmexpress_spark.operators import rollup as R


def _events(spark, rows):
    data = [
        (eid, dt.datetime.fromisoformat(ts), etype, val)
        for eid, ts, etype, val in rows
    ]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, event_type string, value double"
    )


# nonnegative values: the quantile sidecar's nonneg contract
_ROWS = [
    (i, f"2024-01-{1 + (i % 4):02d}T{(i * 5) % 24:02d}:15:00",
     "a" if i % 3 else "b", float(i) * 0.73)
    for i in range(1, 61)
]


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.slow
def test_regrain_cascades_sidecars(spark, tmp_path):
    """hour -> day regrain of a sidecar-carrying store answers the
    SAME quantile and distinct queries as a day store built directly
    from the raw events (the lockstep property on the regrain path —
    ADVICE r07: regrain used to silently drop both sidecars)."""
    ev = _events(spark, _ROWS)
    hour_store = str(tmp_path / "hour")
    day_direct = str(tmp_path / "day")
    day_derived = str(tmp_path / "day2")
    kw = dict(key_cols=["event_type"], sketch_bits=4,
              distinct_col="event_id", distinct_k=8)
    R.save_rollup_store(ev, hour_store, grain="hour", **kw)
    R.save_rollup_store(ev, day_direct, grain="day", **kw)
    R.rollup_regrain(spark, hour_store, day_derived, "day")

    q = [(1, 2), (9, 10)]
    for by in ([], ["event_type"]):
        a = _sorted_rows(R.rollup_quantiles(
            spark, day_derived, "2024-01-01", "2024-01-04", q, by=by))
        b = _sorted_rows(R.rollup_quantiles(
            spark, day_direct, "2024-01-01", "2024-01-04", q, by=by))
        assert a == b and a, by
        da = _sorted_rows(R.rollup_distinct(
            spark, day_derived, "2024-01-01", "2024-01-04", by=by))
        db = _sorted_rows(R.rollup_distinct(
            spark, day_direct, "2024-01-01", "2024-01-04", by=by))
        assert da == db and da, by

    # the derived meta keeps the sidecar keys (and stays batch-layout)
    meta = R._check_meta(spark, day_derived, "day")
    assert meta["sketch_bits"] == 4
    assert meta["distinct_col"] == "event_id" and meta["distinct_k"] == 8
    assert "layout" not in meta


def test_regrain_without_sidecars_unchanged(spark, tmp_path):
    """A plain store (no sidecars) still regrains cleanly and its
    derived meta carries no sidecar keys."""
    ev = _events(spark, _ROWS)
    src = str(tmp_path / "hour")
    dst = str(tmp_path / "day")
    R.save_rollup_store(ev, src, key_cols=["event_type"], grain="hour")
    R.rollup_regrain(spark, src, dst, "day")
    meta = R._check_meta(spark, dst, "day")
    assert "sketch_bits" not in meta and "distinct_col" not in meta
    with pytest.raises(ValueError, match="sidecar"):
        R.rollup_quantiles(spark, dst, "2024-01-01", "2024-01-04", [(1, 2)])


@pytest.mark.slow
def test_date_only_end_selects_whole_day(spark, tmp_path):
    """On an hour-grain store, end='2024-01-01' means THROUGH the end
    of Jan 1 — every hour bucket of the day, not just midnight
    (ADVICE r07).  A time-carrying end keeps the exact inclusive
    compare."""
    rows = [
        (1, "2024-01-01T00:10:00", "a", 1.0),
        (2, "2024-01-01T13:00:00", "a", 2.0),
        (3, "2024-01-01T23:59:00", "a", 4.0),
        (4, "2024-01-02T00:00:00", "a", 8.0),
    ]
    ev = _events(spark, rows)
    store = str(tmp_path / "store")
    R.save_rollup_store(ev, store, grain="hour")

    whole_day = R.rollup_range(spark, store, "2024-01-01", "2024-01-01")
    assert whole_day.collect()[0]["n_events"] == 3  # not 1, never 4

    # time-carrying end: inclusive at the named hour bucket
    thru_13 = R.rollup_range(
        spark, store, "2024-01-01", "2024-01-01 13:00:00")
    assert thru_13.collect()[0]["n_events"] == 2

    # day grain with date-only bounds: unchanged semantics
    day_store = str(tmp_path / "day")
    R.save_rollup_store(ev, day_store, grain="day")
    both = R.rollup_range(spark, day_store, "2024-01-01", "2024-01-02")
    assert both.collect()[0]["n_events"] == 4


def test_rollup_distinct_global_branch_has_no_window(spark, tmp_path):
    """The by=[] branch must pre-reduce via TakeOrdered, not funnel
    every cell's minima through one single-partition rank window
    (ADVICE r07)."""
    ev = _events(spark, _ROWS)
    store = str(tmp_path / "store")
    R.save_rollup_store(
        ev, store, key_cols=["event_type"],
        distinct_col="event_id", distinct_k=8,
    )
    out = R.rollup_distinct(spark, store, "2024-01-01", "2024-01-04")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "TakeOrdered" in plan, plan
    row = out.collect()[0]
    # 60 distinct event_ids >> k=8: the estimator branch, with the
    # kth hash the 8th smallest of the union
    assert row["k_used"] == 8 and row["est_distinct"] > 8


def test_meta_publish_is_rename_commit(spark, tmp_path):
    """store.write_text lands meta via temp+rename: re-publication
    replaces the content and leaves no .tmp. siblings behind."""
    import os

    from osmexpress_spark import store as S

    path = str(tmp_path / "meta.json")
    S.write_text(spark, path, '{"v": 1}')
    S.write_text(spark, path, '{"v": 2}')
    assert S.read_text(spark, path) == '{"v": 2}'
    leftovers = [
        f for f in os.listdir(tmp_path) if ".tmp." in f or ".bak." in f
    ]
    assert not leftovers, leftovers
    # round-9 ADVICE: the fallback (park-and-swap) path must also
    # publish correctly and retain no siblings
    S.write_text(spark, path, '{"v": 3}', _force_swap=True)
    assert S.read_text(spark, path) == '{"v": 3}'
    leftovers = [
        f for f in os.listdir(tmp_path) if ".tmp." in f or ".bak." in f
    ]
    assert not leftovers, leftovers
