"""The driver contract in __spark_entry__: ``queries()`` lists every
registered query once, in ``plans.ordered_registry()`` order, and
``oracle_sql()`` holds exactly the queries with an oracle, in that same
order."""

from __future__ import annotations

import __spark_entry__ as e
from streamprocessors_spark import plans


def test_queries_follow_ordered_registry_once_each():
    names = list(e.queries())
    assert names == list(plans.ordered_registry())
    assert sorted(names) == sorted(plans.REGISTRY)
    assert len(names) == len(set(names))
    for name, fn in e.queries().items():
        assert fn is plans.REGISTRY[name].fn


def test_oracle_sql_is_the_oracle_bearing_subsequence():
    expected = [n for n in e.queries() if plans.REGISTRY[n].oracle is not None]
    osql = e.oracle_sql()
    assert list(osql) == expected
    for name, sql in osql.items():
        assert sql == plans.REGISTRY[name].oracle
