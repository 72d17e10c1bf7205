"""Extension queries vs DuckDB oracles at sf0.001 (fast mirror of the
driver's t2 run; relational Q-series covered in test_relational). Each
query is built and checked once per run, in query_sweep.py."""

from __future__ import annotations

import pytest

from mitoscape_spark.queries.extensions import QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_extension_matches_oracle(query_sweep, name):
    query_sweep.oracle(name)


def test_time_rollup_integer_mean_identity_matches_half_up():
    """Round-12: avg_value = (200*cents + n) DIV (2n) / 1e4 must equal
    the half-up 4-decimal rounding of the exact rational mean for any
    2-decimal inputs — including the .00005 ties that flipped between
    the engines' double ROUNDs at sf0.1."""
    import decimal
    import random

    rng = random.Random(7)
    cases = [(140337, 24), (151212, 32), (123627, 24)]  # the sf0.1 ties
    cases += [
        (rng.randrange(0, 10_000_000), rng.randrange(1, 500))
        for _ in range(5000)
    ]
    for cents, n in cases:
        got = (200 * cents + n) // (2 * n)
        exact = (
            decimal.Decimal(cents) * 100 / decimal.Decimal(n)
        ).quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)
        assert got == int(exact), (cents, n, got, exact)
