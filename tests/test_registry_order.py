"""Driver-order and stale-tracking invariants (VERDICT r5 item 7).

The driver certifies roughly the first 50 entries of ``queries()`` per
round, so the ordering IS the certification plan. These tests pin:

1. grouping — red > never-checked-oracle > stale > never-rows-only >
   standing greens, so the ~50-row budget lands on the highest-signal
   checks;
2. stale queries can't rot — every ACTIVE-stale query (its fingerprint
   moved since the record of what its driver row certified) must sit
   inside the first-50 window, guaranteeing it is re-certified on the
   very next driver run;
3. the stale predicate itself, on synthetic inputs.
"""

from __future__ import annotations

from pandas_td_spark.queries import registry as R

DRIVER_BUDGET = 50  # rows per round, observed constant since r1


def _groups():
    qs = R.all_queries()
    latest = R._latest_driver_round()
    certified = R.certified_fingerprints()
    current = R.current_fingerprints()
    out = {}
    for name, q in qs.items():
        rnd_st = latest.get(name)
        rows_only = q.oracle is None
        if rnd_st is not None and rnd_st[1] == "red":
            out[name] = 0
        elif rnd_st is None:
            out[name] = 1 if not rows_only else 3
        elif R._is_stale(name, latest, certified, current):
            out[name] = 2 if not rows_only else 4
        else:
            out[name] = 5
    return qs, out


def test_driver_order_is_grouped_weakest_last():
    qs, groups = _groups()
    seq = [groups[n] for n in qs]
    assert seq == sorted(seq), "driver order must be non-decreasing by group"


def test_active_stale_entries_fit_in_next_driver_window():
    """A stale ORACLE-BACKED green that sorts outside the ~50-row budget
    would never be re-certified — the map would rot silently (the
    round-4/5 failure mode this ordering exists to close). Rows-only
    stale entries (group 4) are allowed to wait one round behind
    first-time checks when the window is tight: they must still sit
    ahead of every standing green, so they certify as soon as the
    backlog clears."""
    qs, groups = _groups()
    names = list(qs)
    for n, g in groups.items():
        if g == 2:
            pos = names.index(n)
            assert pos < DRIVER_BUDGET, (
                f"{n} is active-stale but sorts at position {pos} — "
                f"outside the ~{DRIVER_BUDGET}-row driver budget"
            )
    first_green = min(
        (names.index(n) for n, g in groups.items() if g == 5),
        default=len(names),
    )
    for n, g in groups.items():
        if g == 4:
            assert names.index(n) < first_green, (
                f"{n} (stale rows-only) must outrank every standing green"
            )


def test_stale_is_a_moved_or_missing_fingerprint():
    latest = {"q_moved": (16, "green"), "q_same": (16, "green"),
              "q_unrecorded": (12, "green")}
    certified = {"q_moved": {"sha": "old", "round": 15},
                 "q_same": {"sha": "now", "round": 9},
                 "q_unchecked": {"sha": "now", "round": 4}}
    current = {n: "now" for n in
               ("q_moved", "q_same", "q_unrecorded", "q_unchecked")}
    assert R._is_stale("q_moved", latest, certified, current)
    assert not R._is_stale("q_same", latest, certified, current)
    assert R._is_stale("q_unrecorded", latest, certified, current)
    # never-checked queries are group-1/3 by definition, not stale
    assert not R._is_stale("q_unchecked", latest, certified, current)


def test_never_checked_oracle_queries_lead():
    """Every oracle-backed never-checked query must fit in the first-50
    window together with the stale re-certs (the round-6 close-out set)."""
    qs, groups = _groups()
    names = list(qs)
    must_certify = [n for n, g in groups.items() if g in (0, 1, 2)]
    over = [n for n in must_certify if names.index(n) >= DRIVER_BUDGET]
    assert not over, (
        f"{len(over)} red/never-checked/stale queries sort outside the "
        f"{DRIVER_BUDGET}-row window: {over[:5]}"
    )
