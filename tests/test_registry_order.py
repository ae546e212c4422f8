"""Guard for the driver's CORRECTNESS check window.

The driver validates exactly the FIRST 50 entries of
``__spark_entry__.queries()`` in registration order (verified in rounds
1 and 2: CORRECTNESS_r0{1,2}.json keys == the first 50 registry keys).
Round 2's verdict found 39 registered queries with zero driver-side
evidence because they sorted after the window.  These tests make that
class of regression impossible:

1. any query that has NEVER received a green CORRECTNESS row must sort
   before every query that has one (never-validated work gets the
   driver's attention first);
2. every registered query either has a DuckDB oracle or appears in the
   documented rows-only allowlist with a justification.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pytest  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from osmexpress_spark import registry  # noqa: E402

# Queries whose semantics are not expressible as deterministic ANSI SQL;
# each carries a pointer to the golden test that pins it instead.
ROWS_ONLY_JUSTIFIED: set[str] = set()

DRIVER_WINDOW = 50


def _green_history() -> set[str]:
    """Queries fully green (rows+schema+hash) in ANY past round."""
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            data = json.load(f)
        for name, rec in data.items():
            if rec.get("rows_match") and rec.get("schema_match") and rec.get(
                "hash_match"
            ):
                green.add(name)
    return green


def test_never_validated_queries_sort_first():
    order = list(entry.queries().keys())
    green = _green_history()
    # a query can drop out of the registry between rounds; only guard
    # currently-registered ones
    never = [q for q in order if q not in green]
    if not never:
        return
    last_never = max(order.index(q) for q in never)
    first_green = min(
        (order.index(q) for q in order if q in green), default=len(order)
    )
    assert last_never < first_green, (
        "never-driver-validated queries must precede previously-green ones: "
        f"{order[last_never]!r} (pos {last_never}) sorts after "
        f"{order[first_green]!r} (pos {first_green})"
    )
    if len(never) <= DRIVER_WINDOW:
        assert last_never < DRIVER_WINDOW, (
            f"{len(never)} never-validated queries but {order[last_never]!r} "
            f"sits at position {last_never}, outside the driver's first-"
            f"{DRIVER_WINDOW} check window"
        )
    else:
        # more never-validated queries than window slots: the best the
        # ordering can do is waste no slot on an already-green query
        wasted = [q for q in order[:DRIVER_WINDOW] if q in green]
        assert not wasted, (
            f"{len(never)} never-validated queries exceed the "
            f"{DRIVER_WINDOW}-slot window, yet already-green {wasted!r} "
            f"occupy window slots"
        )


def test_priority_order_is_computed_and_exact():
    order = list(entry.queries().keys())
    assert order == entry.priority_order()
    assert len(set(order)) == len(order)
    # evidence age must be non-decreasing through the registry: never-
    # green (-1) first, then oldest green round first, so every entry
    # rotates back through the driver window before its evidence rots
    ages = entry._latest_green_round()
    seq = [ages.get(n, -1) for n in order]
    assert seq == sorted(seq), "registry not sorted by evidence age"


def test_evidence_age_report():
    """Ask #7 (VERDICT r03): print per-query evidence age so stale
    greens visibly rotate back into the window, and bound how long any
    row can go un-revalidated.  With N registered queries and a W-slot
    window the steady-state rotation period is ceil(N/W) rounds; each
    promotion's never-green rows displace the same number of aged rows
    by one extra round, so the honest invariant is simulated, not
    static: replay the driver's window rule (never-green first, then
    oldest evidence first, registration order breaking ties — exactly
    priority_order) forward and assert EVERY registered query is
    re-stamped within ceil(N/W)+1 rounds.  The old 2-window static
    check broke at round 9: 202 rows / 50 slots leaves a 2-row
    boundary that drifts to the third window by construction."""
    order = list(entry.queries().keys())
    ages = entry._latest_green_round()
    current = max(ages.values(), default=0)
    lines = []
    for pos, name in enumerate(order):
        age = ages.get(name, -1)
        label = "never" if age < 0 else f"r{age:02d}"
        lines.append(f"  {pos:3d}  {label}  {name}")
    print("\nregistry evidence age (pos / last green round / query):")
    print("\n".join(lines))
    period = -(-len(order) // DRIVER_WINDOW) + 1
    sim_ages = dict(ages)
    revalidated: dict[str, int] = {}
    for rnd in range(current + 1, current + 1 + period):
        # python sort is stable, so sorting registration order by age
        # alone reproduces priority_order's tie-breaking
        window = sorted(
            order, key=lambda n: sim_ages.get(n, -1)
        )[:DRIVER_WINDOW]
        for name in window:
            revalidated.setdefault(name, rnd)
            sim_ages[name] = rnd
    missed = [n for n in order if n not in revalidated]
    assert not missed, (
        f"rotation leaves {len(missed)} queries un-revalidated after "
        f"{period} simulated driver rounds: {missed[:5]}"
    )
    worst = max(
        revalidated[n] - max(ages.get(n, current), 0) for n in order
    )
    assert worst <= period, (
        f"a query would wait {worst} rounds between green rows "
        f"(rotation period bound: {period})"
    )


def test_every_query_oracled_or_justified():
    names = set(entry.queries().keys())
    oracles = set(entry.oracle_sql().keys())
    unjustified = names - oracles - ROWS_ONLY_JUSTIFIED
    assert not unjustified, (
        "queries lacking both a DuckDB oracle and a rows-only "
        f"justification: {sorted(unjustified)}"
    )
    stale = ROWS_ONLY_JUSTIFIED - names
    assert not stale, f"rows-only allowlist references unknown queries: {stale}"
    double = ROWS_ONLY_JUSTIFIED & oracles
    assert not double, f"allowlisted queries now have oracles, remove: {double}"


def test_duplicate_query_name_raises():
    first = registry.queries()["q_projection"]
    with pytest.raises(ValueError, match="q_projection"):
        registry.defq("q_projection")(lambda spark, sf_dir: None)
    assert registry.queries()["q_projection"] is first


def test_staged_queries_are_oracled_and_kept_out_of_the_contract():
    """What promotion relies on: every staged query already carries an
    oracle (the parity test proves it before promotion), none is in the
    driver contract, and none has driver evidence yet — so each one
    sorts to the head of the window the round it is promoted."""
    staged = registry.staged()
    assert staged <= set(registry.oracle_sql(include_staged=True))
    assert not staged & set(entry.queries())
    assert not staged & set(entry.oracle_sql())
    assert not staged & set(entry._latest_green_round())


def test_run_times_a_registered_query(spark):
    wall = registry.run(spark, "q_projection", "/root/testdata/sf0.001")
    assert wall > 0
