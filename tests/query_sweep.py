"""One build and one check per declared query at sf0.001, shared by the
suites that report on it:

- test_extensions.py: the extension queries hash-match their oracles;
- test_plan_audit.py: every plan is free of scale anti-patterns;
- test_relational.py: both, over the whole registry.

Whichever suite reaches a name first builds its DataFrame once, audits
the plan, then compares that same DataFrame with its DuckDB oracle (or
counts it, for rows-only names) and records both outcomes. The other
suites re-raise the recorded failure, so a run builds and executes each
query once however many suites report on it.

The plan audit pins the *negative* space across the whole inventory, so
a future query can't quietly ship a cartesian product or a
row-at-a-time Python UDF; the targeted plan tests (test_plans.py) pin
specific *positive* properties. Whitelists are explicit and commented —
an entry here is a documented engineering decision, not an exemption
without reason.
"""

from __future__ import annotations

import contextlib
import io

from mitoscape_spark.queries import ORACLE, QUERIES
from mitoscape_spark.verify import compare_query, duckdb_connection

SF_SMOKE = "/root/testdata/sf0.001"

# Queries whose RESULT is produced by driver-side materialization
# (snapshot-table lifecycles collect inside a TemporaryDirectory) —
# their plan is a LocalTableScan of already-computed rows; the real
# plans behind them are audited by their own suites.
MATERIALIZED = {
    "ext_time_travel",
    "ext_table_changes",
    "ext_delete_vectors",
    "ext_snapshot_format",
    "ext_incremental_agg",
    "ext_merge_upsert",
    "ext_zorder",
    "ext_stream_embedding_dedup",  # runs a streaming job, returns rows
    "ext_stream_text_dedup",
}

# Deliberate cross-join shapes: 1-row corpus-stats broadcasts (cost =
# |fact|), k-row pair matrices over sketch state, and the documented
# brute-force baselines whose block pairs ARE the algorithm.
CARTESIAN_OK = {
    "q07",  # 1-row global-stats broadcast (A4)
    "q08",
    "ext_bm25_search",  # 1-row (n_docs, avgdl) broadcast
    "ext_theta_overlap",  # |types|² sketch-pair matrix, k rows total
    "ext_embedding_neardup",  # blocked-GEMM block-pair cross join
    "ext_dedup_embedding",
    "ext_tfidf_pairs",
    "ext_histogram",  # 1-row min/max broadcast for bin edges
    "ext_gapfill",  # date-spine × key-set build (both tiny dims)
    "ext_ewma",
    "ext_topk_cosine",  # brute-force baseline, documented
    "ext_semantic_dedup",  # 1-row stats broadcast inside keep-set
}

# Arrow-vectorized Python is the sanctioned boundary; row-at-a-time
# BatchEvalPython is never acceptable.
ROW_PYTHON = "BatchEvalPython"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _audit(name: str, df) -> None:
    if name in MATERIALIZED:
        return
    # driver-harness contract: the correctness driver canonicalizes
    # results through pandas sort_values, which throws on array/map/
    # struct cells (round-5's ext_bpe_tokens was the red cell) —
    # declared queries must emit scalar columns only; operators keep
    # returning rich types for library callers
    nested = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not nested, (
        f"{name}: nested-typed output columns {nested} break the "
        "driver's pandas canonicalizer — emit a joined string/JSON "
        "in the declared query instead (keep the rich type in the "
        "operator)"
    )
    plan = _plan(df)
    assert ROW_PYTHON not in plan, (
        f"{name}: row-at-a-time Python UDF in the plan\n{plan}"
    )
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, (
            f"{name}: cartesian product — whitelist only with a "
            f"documented reason\n{plan}"
        )


class QuerySweep:
    """Per-name (audit failure, oracle failure), each None when it
    passed, filled on first use."""

    def __init__(self, spark):
        self.spark = spark
        self._con = None
        self._done: dict[str, tuple] = {}

    def _compare(self, name: str, df) -> None:
        if name not in ORACLE:
            # non-SQL-expressible: rows-only smoke (driver does the same)
            assert df.count() >= 0
            return
        if self._con is None:
            self._con = duckdb_connection(SF_SMOKE)
        res = compare_query(
            self.spark, self._con, name, lambda *_: df, ORACLE[name],
            SF_SMOKE,
        )
        assert res.spark_rows == res.oracle_rows, res
        assert res.cols_match, res
        assert res.hash_match, res

    def _check(self, name: str) -> tuple:
        if name not in self._done:
            try:
                df = QUERIES[name](self.spark, SF_SMOKE)
            except Exception as exc:
                self._done[name] = (exc, exc)
                return self._done[name]
            errors = []
            for step in (_audit, self._compare):
                try:
                    step(name, df)
                except Exception as exc:
                    errors.append(exc)
                else:
                    errors.append(None)
            self._done[name] = tuple(errors)
        return self._done[name]

    def audit(self, name: str) -> None:
        """Raise the plan audit's failure for ``name``, if any."""
        err = self._check(name)[0]
        if err is not None:
            raise err

    def oracle(self, name: str) -> None:
        """Raise the oracle comparison's failure for ``name``, if any."""
        err = self._check(name)[1]
        if err is not None:
            raise err

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
