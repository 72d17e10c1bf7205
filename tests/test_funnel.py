"""Funnel + cohort retention (operators/funnel.py)."""

from __future__ import annotations

import datetime

import pytest

from mitoscape_spark.operators.funnel import cohort_retention, funnel_counts


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, datetime.datetime(2024, 1, d, h), s) for u, d, h, s in rows],
        "user_id long, ts timestamp, event_type string",
    )


def test_funnel_requires_strict_order(spark):
    ev = _ev(
        spark,
        [
            (1, 1, 0, "a"), (1, 1, 1, "b"), (1, 1, 2, "c"),  # full a<b<c
            (2, 1, 0, "a"), (2, 1, 1, "b"),                   # stops at b
            (3, 1, 5, "b"), (3, 1, 6, "a"),                   # b BEFORE a
            (4, 2, 0, "c"),                                   # never did a
        ],
    )
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts(ev, ["a", "b", "c"]).collect()
    }
    assert out == {"a": 3, "b": 2, "c": 1}


def test_funnel_same_timestamp_not_counted(spark):
    # strictly-increasing: b at the same instant as a does not convert
    ev = _ev(spark, [(1, 1, 0, "a"), (1, 1, 0, "b")])
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts(ev, ["a", "b"]).collect()
    }
    assert out == {"a": 1, "b": 0}


def test_funnel_greedy_earliest_is_optimal(spark):
    # a@0, b@1, a@2, c@3: greedy picks a@0 -> b@1 -> c@3 (converts);
    # a later 'a' must not reset the chain
    ev = _ev(spark, [(1, 1, 0, "a"), (1, 1, 1, "b"), (1, 1, 2, "a"),
                     (1, 1, 3, "c")])
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts(ev, ["a", "b", "c"]).collect()
    }
    assert out == {"a": 1, "b": 1, "c": 1}


def test_funnel_frac_of_first(spark):
    ev = _ev(spark, [(u, 1, 0, "a") for u in range(4)] + [(0, 1, 1, "b")])
    rows = {r["step"]: r for r in funnel_counts(ev, ["a", "b"]).collect()}
    assert rows["a"]["frac_of_first"] == 1.0
    assert rows["b"]["frac_of_first"] == 0.25


def test_funnel_null_users_count_at_no_stage(spark):
    """Events with a NULL user count at no stage of either funnel, and
    the other users' counts are the ones they have without them."""
    from mitoscape_spark.operators.funnel import funnel_counts_windowed

    users = [
        (1, 1, 0, "a"), (1, 1, 1, "b"), (1, 1, 2, "c"),
        (2, 1, 0, "a"), (2, 1, 1, "b"),
        (3, 1, 0, "a"),
    ]
    # NULL-user events that would complete every stage if they counted
    nulls = [(None, 1, 0, "a"), (None, 1, 1, "b"), (None, 1, 2, "c"),
             (None, 1, 3, "a"), (None, 1, 4, "b")]
    ev = _ev(spark, users + nulls)
    steps = ["a", "b", "c"]
    for out in (
        funnel_counts(ev, steps),
        funnel_counts_windowed(ev, steps, 10**6),
    ):
        got = [
            (r["step"], r["n_users"], r["frac_of_first"])
            for r in out.orderBy("step_idx").collect()
        ]
        # users 1-3 alone: 3 reach a, 2 reach b, 1 reaches c
        assert got == [("a", 3, 1.0), ("b", 2, 0.666667),
                       ("c", 1, 0.333333)]


def test_ext_funnel_oracle_skips_null_users(spark, tmp_path):
    """``ext_funnel`` and its DuckDB oracle agree on NULL users: user 1
    and a NULL user sign up, the NULL user then views; both engines
    count one signup and no view."""
    import duckdb

    from mitoscape_spark.queries.extensions import ORACLE, QUERIES

    events = tmp_path / "events.parquet"
    rows = [(1, 1, 0, "signup"), (None, 1, 0, "signup"), (None, 1, 1, "view")]
    _ev(spark, rows).write.parquet(str(events))
    got = {
        r["step"]: r["n_users"]
        for r in QUERIES["ext_funnel"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}/*.parquet')"
    )
    want = {r[1]: r[2] for r in con.execute(ORACLE["ext_funnel"]).fetchall()}
    con.close()
    assert got["signup"] == want["signup"] == 1
    assert got["view"] == want["view"] == 0


def test_funnel_empty_steps_raises(spark):
    with pytest.raises(ValueError, match="at least one step"):
        funnel_counts(_ev(spark, []), [])


def test_cohort_retention_triangle(spark):
    # user 1 first week W0, active W0 and W1; user 2 only W1
    ev = _ev(
        spark,
        [
            (1, 1, 0, "x"),   # Jan 1 2024 (Mon) -> cohort W0
            (1, 9, 0, "x"),   # Jan 9 -> W1 for cohort W0
            (2, 10, 0, "x"),  # Jan 10 -> cohort W1
        ],
    )
    out = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }
    assert out == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
    }


def test_event_transitions_counts_and_probs(spark):
    from mitoscape_spark.operators.funnel import event_transitions

    rows = [
        (1, 1, 0, "a"), (1, 1, 1, "b"), (1, 1, 2, "a"), (1, 1, 3, "c"),
        (2, 1, 0, "a"), (2, 1, 1, "b"),
    ]
    ev = spark.createDataFrame(
        [
            (i, u, __import__("datetime").datetime(2024, 1, d, h), s)
            for i, (u, d, h, s) in enumerate(rows)
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    out = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in event_transitions(ev).collect()
    }
    # user1: a->b, b->a, a->c; user2: a->b  ==> a->b:2, a->c:1, b->a:1
    assert out == {
        ("a", "b"): (2, 0.666667),
        ("a", "c"): (1, 0.333333),
        ("b", "a"): (1, 1.0),
    }


def test_event_transitions_no_cross_user_leak(spark):
    import datetime as dt

    from mitoscape_spark.operators.funnel import event_transitions

    ev = spark.createDataFrame(
        [
            (0, 1, dt.datetime(2024, 1, 1), "a"),
            (1, 2, dt.datetime(2024, 1, 2), "b"),  # different user
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    assert event_transitions(ev).count() == 0


def test_windowed_funnel_late_entry_succeeds_where_first_expires(spark):
    """a@0 -> b@100 exceeds a 50s window from the FIRST a, but a@60
    opens a chain whose window covers b@100 — the user must convert.
    (This is exactly the case greedy-from-first gets wrong.)"""
    import datetime as dt

    from mitoscape_spark.operators.funnel import funnel_counts_windowed

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, base + dt.timedelta(seconds=0), "a"),
            (1, base + dt.timedelta(seconds=60), "a"),
            (1, base + dt.timedelta(seconds=100), "b"),
        ],
        "user_id long, ts timestamp, event_type string",
    )
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts_windowed(ev, ["a", "b"], 50).collect()
    }
    assert out == {"a": 1, "b": 1}


def test_windowed_funnel_enforces_span(spark):
    import datetime as dt

    from mitoscape_spark.operators.funnel import funnel_counts_windowed

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, base, "a"),
            (1, base + dt.timedelta(seconds=200), "b"),  # outside any window
            (2, base, "a"),
            (2, base + dt.timedelta(seconds=30), "b"),  # inside
        ],
        "user_id long, ts timestamp, event_type string",
    )
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts_windowed(ev, ["a", "b"], 50).collect()
    }
    assert out == {"a": 2, "b": 1}


def test_windowed_funnel_unbounded_matches_plain(spark):
    import datetime as dt

    from mitoscape_spark.operators.funnel import (
        funnel_counts,
        funnel_counts_windowed,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(8):
        for i, s in enumerate(["a", "b", "c"][: (u % 4)]):
            rows.append((u, base + dt.timedelta(seconds=i), s))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    plain = {
        r["step"]: r["n_users"]
        for r in funnel_counts(ev, ["a", "b", "c"]).collect()
    }
    wide = {
        r["step"]: r["n_users"]
        for r in funnel_counts_windowed(ev, ["a", "b", "c"], 10**9).collect()
    }
    assert plain == wide


def test_sequence_pattern_match_semantics(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from mitoscape_spark.operators.funnel import sequence_pattern_match

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: signup then purchase, clean path
        (1, t(1), "signup", 1), (1, t(2), "view", 2), (1, t(3), "purchase", 3),
        # user 2: error between signup and purchase
        (2, t(1), "signup", 4), (2, t(2), "error", 5), (2, t(3), "purchase", 6),
        # user 3: purchase BEFORE signup
        (3, t(1), "purchase", 7), (3, t(2), "signup", 8),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string, event_id long")
    pat = "(^|>)signup>((click|view|signup|purchase)>)*purchase(>|$)"
    got = {r.user_id for r in sequence_pattern_match(df, pat).collect()}
    assert got == {1}
    # ordering is deterministic: same-timestamp rows break ties by id
    same_ts = spark.createDataFrame(
        [(9, t(1), "b", 2), (9, t(1), "a", 1)],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    seq = sequence_pattern_match(same_ts, ".*").head().sequence
    assert seq == "a>b"


def test_collect_stage_counts_orders_and_single_action(spark):
    """Round-12: all per-stage counts resolve through ONE collect; the
    helper must map union rows back to stage order regardless of the
    order the union emits them."""
    from pyspark.sql import functions as F

    from mitoscape_spark.operators.funnel import _collect_stage_counts
    from mitoscape_spark.trace import trace

    aggs = [
        spark.range(n).select(F.count(F.lit(1)).alias("n"))
        for n in (5, 0, 3, 7)
    ]
    # one-job property holds under the bench session shape (AQE off at
    # bench SFs); with AQE on each union branch re-plans as its own job
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with trace(spark, "stage_counts_probe") as rec:
            got = _collect_stage_counts(aggs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert got == [5, 0, 3, 7]
    assert len(rec.job_ids) == 1, f"expected one job, saw {len(rec.job_ids)}"
