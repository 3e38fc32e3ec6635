"""Driver-contract order: ordered_registry() sorts the registry by the
round of each query's latest driver-green row, so never-verified queries
lead and the green tail is stalest first; ties keep registration order.
Every case patches ``_driver_green_rounds`` and reads no repo file.
"""

from __future__ import annotations

from streamprocessors_spark import plans

plans.load_all()


def _ordered_with(monkeypatch, green_rounds):
    monkeypatch.setattr(plans, "_driver_green_rounds", lambda: dict(green_rounds))
    return list(plans.ordered_registry())


def test_every_query_present_exactly_once(monkeypatch):
    order = _ordered_with(monkeypatch, {})
    assert order == list(plans.REGISTRY)
    order2 = _ordered_with(monkeypatch, {n: 2 for n in plans.REGISTRY})
    assert sorted(order2) == sorted(plans.REGISTRY)
    assert len(order2) == len(set(order2))


def test_never_green_lead_in_registration_order(monkeypatch):
    names = list(plans.REGISTRY)
    # every other query green, so the never-green ones are scattered
    # through registration order
    green = {n: 4 for n in names[::2]}
    order = _ordered_with(monkeypatch, green)
    never = [n for n in names if n not in green]
    assert order[: len(never)] == never
    assert order[len(never):] == [n for n in names if n in green]


def test_green_tail_is_stalest_first(monkeypatch):
    names = list(plans.REGISTRY)
    # alternate green rounds 1..3 across all queries; none never-green
    green = {n: (i % 3) + 1 for i, n in enumerate(names)}
    order = _ordered_with(monkeypatch, green)
    expected = [n for rnd in (1, 2, 3) for n in names if green[n] == rnd]
    assert order == expected
