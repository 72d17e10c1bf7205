"""t2 mirror: every declared query hash-matches its DuckDB oracle, and
its physical plan is audited for scale anti-patterns, from one build
(see query_sweep.py).

Runs at sf0.001 (fast inner loop); the driver runs the same contract at
sf0.01. mitoscape_spark.verify can be run standalone at any sf.
"""

from __future__ import annotations

import ast
import itertools
import subprocess
from pathlib import Path

import pytest

import mitoscape_spark.queries as registry
from mitoscape_spark.queries import ORACLE, QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(query_sweep, name):
    query_sweep.audit(name)
    query_sweep.oracle(name)


def test_registry_is_the_disjoint_union_in_declaration_order(monkeypatch):
    """The single sweep above checks each name once only if the package
    registry is exactly the three query files' dicts, disjoint and in
    declaration order, and the driver contract serves that registry
    as-is without shelling out."""
    import __spark_entry__ as e
    from mitoscape_spark.queries import domain, extensions, relational

    parts = (relational, extensions, domain)
    for attr in ("QUERIES", "ORACLE"):
        for a, b in itertools.combinations(parts, 2):
            shared = set(getattr(a, attr)) & set(getattr(b, attr))
            assert not shared, (a.__name__, b.__name__, attr, shared)
    assert list(QUERIES) == [n for m in parts for n in m.QUERIES]
    assert QUERIES == {n: f for m in parts for n, f in m.QUERIES.items()}
    assert ORACLE == {n: s for m in parts for n, s in m.ORACLE.items()}
    assert (len(QUERIES), len(ORACLE)) == (251, 234)
    assert set(ORACLE) <= set(QUERIES)

    spawned = []

    def refuse(*args, **kwargs):
        spawned.append(args)
        raise OSError("queries() must not run a subprocess")

    monkeypatch.setattr(subprocess, "run", refuse)
    monkeypatch.setattr(subprocess, "Popen", refuse)
    assert list(e.queries()) == list(QUERIES)
    assert e.oracle_sql() == ORACLE
    assert not spawned, spawned


def test_each_oracle_sits_under_its_query():
    """Layout contract: a query file declares each query once. No
    QUERIES/ORACLE dict literal lists them a second time, and every
    ``ORACLE["name"] = ...`` statement directly follows ``def name``
    (extensions' pure-SQL queries are one name -> SQL table instead)."""
    for path in sorted(Path(registry.__file__).parent.glob("*.py")):
        if path.name == "__init__.py":
            continue
        body = ast.parse(path.read_text()).body
        for prev, node in zip(body, body[1:]):
            if not isinstance(node, (ast.Assign, ast.AnnAssign)):
                continue
            targets = getattr(node, "targets", None) or [node.target]
            target = targets[0]
            if isinstance(target, ast.Name):
                assert not (
                    target.id in ("QUERIES", "ORACLE")
                    and isinstance(node.value, ast.Dict)
                    and node.value.keys
                ), (path.name, target.id, "dict literal")
            elif isinstance(target, ast.Subscript) and (
                ast.unparse(target.value) == "ORACLE"
            ):
                name = target.slice.value
                assert (
                    isinstance(prev, ast.FunctionDef) and prev.name == name
                ), (path.name, name, "oracle not directly under its def")


def test_query_files_never_import_each_other():
    """Style contract: query files stay import-disjoint; shared helpers
    belong in operators/."""
    files = sorted(
        p
        for p in Path(registry.__file__).parent.glob("*.py")
        if p.name != "__init__.py"
    )
    qmods = {f"{registry.__name__}.{p.stem}" for p in files}
    for path in files:
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            targets: list[str] = []
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                targets = [node.module] + [
                    f"{node.module}.{a.name}" for a in node.names
                ]
            for t in targets:
                assert t not in qmods, (
                    f"{path.name} imports query file {t}: query files "
                    "stay import-disjoint — move the helper into an "
                    "operators/ module instead"
                )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["n_name", "n_orders", "revenue"]


def test_q13_interval_join_counts_subsecond_pairs(spark):
    """Round-12 precision pin: every corpus event carries sub-second
    precision and the oracle compares FULL timestamps, so two same-user
    events inside one truncated second are a valid pair (the old
    unix_timestamp seconds path dropped exactly one such pair at
    sf0.1), and the window edge is inclusive at exactly +1h, exclusive
    one microsecond past it."""
    import datetime as dt

    from mitoscape_spark.operators.intervals import point_interval_join
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 14, 10, 49, 26, 417201)
    rows = [
        (1, 7, base),
        # same truncated second, 59 ms later -> MUST pair with event 1
        (2, 7, base + dt.timedelta(microseconds=58870)),
        # exactly +1h from event 1 -> included (closed='right')
        (3, 7, base + dt.timedelta(hours=1)),
        # +1h and 1 microsecond from event 1 -> excluded
        (4, 7, base + dt.timedelta(hours=1, microseconds=1)),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz"
    )
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01', ts)"
    intervals = events.selectExpr(
        "event_id", "user_id", f"{us} AS w_start",
        f"{us} + 3600000000 AS w_end",
    )
    points = events.selectExpr("user_id", f"{us} AS p_ts")
    joined = point_interval_join(
        points, intervals, point_col="p_ts", start_col="w_start",
        end_col="w_end", equi_keys=["user_id"],
        bucket_width=3600 * 1_000_000, closed="right",
    )
    got = {
        r["event_id"]: r["n"]
        for r in joined.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # event 1 sees events 2 and 3 (sub-second sibling + the exact-hour
    # edge), NOT event 4; event 2 sees 3 and 4; event 3 sees only 4.
    assert got == {1: 2, 2: 2, 3: 1}
