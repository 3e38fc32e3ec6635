"""The driver contract in __spark_entry__: ``queries()`` lists every
registered query once, in ``plans.ordered_registry()`` order, and
``oracle_sql()`` holds every query's oracle, in that same order. Every
query declares a non-empty oracle, and its text does not depend on the
order the plan modules are imported in. None of these tests starts Spark."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as e
from streamprocessors_spark import plans
from streamprocessors_spark.plans.registry import register

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_follow_ordered_registry_once_each():
    names = list(e.queries())
    assert names == list(plans.ordered_registry())
    assert sorted(names) == sorted(plans.REGISTRY)
    assert len(names) == len(set(names))
    for name, fn in e.queries().items():
        assert fn is plans.REGISTRY[name].fn


def test_oracle_sql_is_the_oracle_bearing_subsequence():
    osql = e.oracle_sql()
    assert list(osql) == list(e.queries())
    for name, sql in osql.items():
        assert sql == plans.REGISTRY[name].oracle


def test_every_query_declares_a_nonempty_oracle():
    assert plans.REGISTRY
    for name, q in plans.REGISTRY.items():
        assert isinstance(q.oracle, str) and q.oracle.strip(), name


def test_register_requires_an_oracle():
    with pytest.raises(ValueError):
        register("no_oracle_query", oracle="")
    assert "no_oracle_query" not in plans.REGISTRY


def test_oracles_do_not_depend_on_import_order(tmp_path):
    """Importing the plan modules in reverse load_all() order registers
    the same queries with the same oracle text."""
    out = tmp_path / "oracles.json"
    code = (
        "import importlib, json, sys\n"
        "from streamprocessors_spark import plans\n"
        "for mod in reversed(plans.PLAN_MODULES):\n"
        "    importlib.import_module(f'streamprocessors_spark.plans.{mod}')\n"
        "plans.load_all()\n"
        "import __spark_entry__ as e\n"
        "json.dump(e.oracle_sql(), open(sys.argv[1], 'w'))\n"
    )
    subprocess.run([sys.executable, "-c", code, str(out)], cwd=REPO_ROOT, check=True)
    assert json.loads(out.read_text()) == e.oracle_sql()
