"""Repo-wide physical-plan audit: EVERY declared query's plan is
checked for scale anti-patterns (nested output columns, row-at-a-time
Python UDFs, cartesian products). The checks and their whitelists live
in query_sweep.py, which builds each query once per run for this audit
and its oracle comparison.
"""

from __future__ import annotations

import pytest

from mitoscape_spark.queries import QUERIES
from query_sweep import MATERIALIZED


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_declared_query_plan_has_no_antipatterns(query_sweep, name):
    if name in MATERIALIZED:
        pytest.skip("driver-materialized lifecycle query")
    query_sweep.audit(name)
