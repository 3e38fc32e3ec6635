"""Driver-window scheduling: ordered_registry() decides WHICH ~50 queries
the driver's one correctness pass re-verifies each round, so its ordering
rules are behavior worth pinning:

1. priority sentinels without a green row lead;
2. force-recheck entries whose last green row predates their change round
   come next (and drop out once re-greened);
3. never-verified queries precede verified ones;
4. the green tail is STALEST-FIRST (oldest green round re-verified first).
"""

from __future__ import annotations

from streamprocessors_spark import plans

plans.load_all()


def _ordered_with(monkeypatch, green_rounds):
    monkeypatch.setattr(plans, "_driver_green_rounds", lambda: dict(green_rounds))
    return list(plans.ordered_registry())


def test_force_recheck_expires_once_regreened(monkeypatch):
    names = list(plans.REGISTRY)
    # everything green in round 4 -> every pin with since <= 4 is expired,
    # so the order collapses to the plain stalest-first tail: all rounds
    # equal -> registration order, no pin jumps the queue
    order = _ordered_with(monkeypatch, {n: 4 for n in names})
    expired = [n for n in names if plans._FORCE_RECHECK.get(n, 0) <= 4]
    assert [n for n in order if n in set(expired)] == expired


def test_force_recheck_pins_lead_when_stale(monkeypatch):
    names = list(plans.REGISTRY)
    # everything last green in round 1 -> all force-recheck pins active
    order = _ordered_with(monkeypatch, {n: 1 for n in names})
    active = [
        n
        for n, since in plans._FORCE_RECHECK.items()
        if n in plans.REGISTRY and since > 1
    ]
    assert order[: len(active)] == [n for n in plans._FORCE_RECHECK if n in active]


def test_unverified_precede_green_up_to_trickle_cap(monkeypatch):
    """New entries lead the window, but only up to BUDGET - pins -
    STALE_TRICKLE of them: the guaranteed stalest floor can never be
    flooded out (VERDICT r10 #8)."""
    names = list(plans.REGISTRY)
    green = {n: 4 for n in names[: len(names) // 2]}
    order = _ordered_with(monkeypatch, green)
    pos = {n: i for i, n in enumerate(order)}
    new = {
        n
        for n in names
        if n not in green and n not in plans.active_deferrals()
    }
    # plain green = green rows with no active force-recheck pin (a green
    # row whose impl changed after its green round is a pin, not tail)
    plain_green = [
        n for n in green if plans._FORCE_RECHECK.get(n, 0) <= green[n]
    ]
    first_green = min(pos[n] for n in plain_green)
    overflow = [n for n in new if pos[n] > first_green]
    assert overflow, "this state floods the window; the cap must bind"
    # (a) everything before the first plain-green row (new + pins +
    # sentinels) fills the window up to exactly the trickle reservation
    assert first_green == plans.DRIVER_WINDOW_BUDGET - plans.STALE_TRICKLE
    # (b) exactly STALE_TRICKLE green rows precede the first overflow row
    first_overflow = min(pos[n] for n in overflow)
    ahead_green = [n for n in plain_green if pos[n] < first_overflow]
    assert len(ahead_green) == plans.STALE_TRICKLE


def test_flood_of_new_entries_cannot_evict_stale_trickle(monkeypatch):
    """Even when new additions alone exceed the window budget, the
    STALE_TRICKLE stalest green rows stay inside the first BUDGET
    positions."""
    names = list(plans.REGISTRY)
    # leave budget+20 entries unverified (a flood), rest green at
    # mixed staleness; neutralize pins
    flood = plans.DRIVER_WINDOW_BUDGET + 20
    green = {n: (i % 4) + 1 for i, n in enumerate(names[flood:], start=1)}
    for n in plans._FORCE_RECHECK:
        if n in green:
            green[n] = 9
    order = _ordered_with(monkeypatch, green)
    window = set(order[: plans.DRIVER_WINDOW_BUDGET])
    reg_pos = {n: i for i, n in enumerate(names)}
    stalest = sorted(
        (n for n in green), key=lambda n: (green[n], reg_pos[n])
    )[: plans.STALE_TRICKLE]
    assert all(n in window for n in stalest)


def test_r11_window_is_the_stale_tail(monkeypatch):
    """The round-11 state (VERDICT r10 #2): all rows green, 19 at r5 and
    48 at r6, the rest r8-r10, r11 additions deferred (latest correctness
    file is r10, so the round-11 deferrals are still active). The
    projected window must be exactly the 50 stalest rows — every r5 row
    plus the 31 oldest r6 rows."""
    monkeypatch.setattr(plans, "_latest_correctness_round", lambda: 10)
    names = [n for n in plans.REGISTRY if n not in plans._DEFER_PAST_GREEN]
    # keep the synthetic r5/r6 staleness OFF the force-recheck names:
    # neutralizing a pin bumps its green round past the pin's change
    # round, and REGISTRY iteration order varies with module import
    # order across test sessions — assigning 5/6 only to unpinned names
    # makes the 19/48 split deterministic
    unpinned = [n for n in names if n not in plans._FORCE_RECHECK]
    rounds = {n: 9 for n in names}  # pinned names: re-greened, neutral
    for i, n in enumerate(unpinned):
        rounds[n] = 5 if i < 19 else (6 if i < 67 else 8 + (i % 3))
    monkeypatch.setattr(plans, "_driver_green_rounds", lambda: dict(rounds))
    order = list(plans.ordered_registry())
    window = order[: plans.DRIVER_WINDOW_BUDGET]
    assert all(rounds[n] <= 6 for n in window)
    assert sum(1 for n in window if rounds[n] == 5) == 19
    # deferred r11 additions sort dead last (once they are registered)
    deferred_in_reg = plans.active_deferrals() & set(plans.REGISTRY)
    assert deferred_in_reg, "r10-latest state must keep the r11 deferrals active"
    assert set(order[-len(deferred_in_reg):]) == deferred_in_reg


def test_stable_names_definition(monkeypatch):
    names = list(plans.REGISTRY)
    rounds = {n: 10 for n in names}
    old = names[5:15]
    for n in old:
        rounds[n] = 7  # 10 - 3 -> exactly at the stable boundary
    rounds[names[0]] = 6
    monkeypatch.setattr(plans, "_driver_green_rounds", lambda: dict(rounds))
    stable = plans.stable_names()
    expected = {
        n
        for n in old + [names[0]]
        if rounds[n] >= plans._FORCE_RECHECK.get(n, 0)
    }
    assert stable == expected


def test_window_projection_partitions(monkeypatch):
    names = list(plans.REGISTRY)
    rounds = {n: 5 if i < 30 else 9 for i, n in enumerate(names)}
    for n in plans._FORCE_RECHECK:
        if n in rounds:
            rounds[n] = max(rounds[n], plans._FORCE_RECHECK[n])
    monkeypatch.setattr(plans, "_driver_green_rounds", lambda: dict(rounds))
    proj = plans.driver_window_projection()
    all_rows = [n for part in proj.values() for n in part]
    assert len(all_rows) == plans.DRIVER_WINDOW_BUDGET
    assert len(set(all_rows)) == len(all_rows)
    # no pins/new in this state: window = trickle + residual, all stale
    assert proj["pins"] == [] and proj["new"] == []
    assert len(proj["trickle"]) == plans.STALE_TRICKLE
    stable = plans.stable_names()
    assert all(n in stable for n in proj["trickle"])


def test_green_tail_is_stalest_first(monkeypatch):
    names = list(plans.REGISTRY)
    # alternate green rounds 1..3 across all queries; no unverified
    green = {n: (i % 3) + 1 for i, n in enumerate(names)}
    # neutralize force-recheck pins for this case: all pins re-greened
    for n in plans._FORCE_RECHECK:
        if n in green:
            green[n] = 9
    order = _ordered_with(monkeypatch, green)
    rounds_in_order = [green[n] for n in order]
    assert rounds_in_order == sorted(rounds_in_order)


def test_every_query_present_exactly_once(monkeypatch):
    order = _ordered_with(monkeypatch, {})
    assert sorted(order) == sorted(plans.REGISTRY)
    order2 = _ordered_with(monkeypatch, {n: 2 for n in plans.REGISTRY})
    assert sorted(order2) == sorted(plans.REGISTRY)


def test_deferred_unverified_sort_last_until_green(monkeypatch):
    names = list(plans.REGISTRY)
    victim = names[-1]
    # deferring round far in the future -> file-based expiry never fires
    monkeypatch.setattr(plans, "_DEFER_PAST_GREEN", {victim: 99})
    # unverified + deferred -> dead last, behind every green row
    green = {n: 3 for n in names if n != victim}
    order = _ordered_with(monkeypatch, green)
    assert order[-1] == victim
    assert sorted(order) == sorted(names)
    # a green row expires the deferral: back to plain stalest-first
    order2 = _ordered_with(monkeypatch, {**green, victim: 1})
    pins = {
        n for n, since in plans._FORCE_RECHECK.items() if since > 1
    }
    head = [n for n in order2 if n not in pins]
    assert head[0] == victim  # round 1 is the stalest green


def test_deferral_expires_on_newer_correctness_file(monkeypatch):
    """The VERDICT r11 #1 structural fix: a deferral expires the moment a
    correctness file from the deferring round (or later) exists, even if
    the query never got a green row — previously green-row-only expiry
    made a deferred query permanently unverifiable."""
    names = list(plans.REGISTRY)
    victim = names[-1]
    monkeypatch.setattr(plans, "_DEFER_PAST_GREEN", {victim: 11})
    green = {n: 8 for n in names if n != victim}
    monkeypatch.setattr(plans, "_driver_green_rounds", lambda: dict(green))
    # latest file predates the deferring round -> still deferred (last)
    monkeypatch.setattr(plans, "_latest_correctness_round", lambda: 10)
    assert victim in plans.active_deferrals()
    assert list(plans.ordered_registry())[-1] == victim
    # the deferring round's file lands -> expired, victim is a NEW row
    # and leads the window despite having no green row
    monkeypatch.setattr(plans, "_latest_correctness_round", lambda: 11)
    assert victim not in plans.active_deferrals()
    order = list(plans.ordered_registry())
    assert victim in order[: plans.DRIVER_WINDOW_BUDGET]


def _green_rounds_through(last_round: int) -> dict[str, int]:
    """The _driver_green_rounds() union restricted to the committed
    CORRECTNESS_r*.json files of rounds <= last_round."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        if rnd > last_round:
            continue
        with open(path) as f:
            for name, row in json.load(f).items():
                if isinstance(row, dict) and row.get("hash_match"):
                    green[name] = max(green.get(name, 0), rnd)
    return green


def test_r12_window_takes_r11_deferred_and_r6_stale(monkeypatch):
    """The real r12 acceptance (VERDICT r11 #1 done-criterion): with the
    shipped _DEFER_PAST_GREEN stamps and the CORRECTNESS_r*.json union as
    it stood when the r12 window was drawn (files up to r11), the
    projected 50-row window contains all four r11 additions and every row
    whose latest green round is <= 6. The inputs are pinned to that file
    set, so later rounds' correctness files do not change the answer."""
    through_r11 = _green_rounds_through(11)
    assert through_r11, "the r01-r11 correctness files must be present"
    monkeypatch.setattr(plans, "_driver_green_rounds", lambda: dict(through_r11))
    monkeypatch.setattr(plans, "_latest_correctness_round", lambda: 11)
    rounds = plans._driver_green_rounds() or {}
    window = list(plans.ordered_registry())[: plans.DRIVER_WINDOW_BUDGET]
    for name in (
        "snapshot_removal_dedup",
        "ann_ivf_remove",
        "drift_remediation_plan",
        "ivf_retrain_plan",
    ):
        assert name in plans.REGISTRY
        assert name in window, f"{name} must enter the r12 driver window"
    r6_stale = [
        n for n in plans.REGISTRY if 0 < rounds.get(n, 0) <= 6
    ]
    missing = [n for n in r6_stale if n not in window]
    assert not missing, f"r6-stale rows evicted from the window: {missing}"
