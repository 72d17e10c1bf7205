"""mitoscape_spark.trace: the job-group trace, the per-query record, the
derived K× corpus and the CLI. The interval union is the instrument
behind the exec/floor split, so its merge semantics are pinned here."""

from __future__ import annotations

import json
import math
import os
import re
import shlex
import subprocess
import sys
import threading
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMOKE

from mitoscape_spark.trace import (
    OFFSET,
    build_parser,
    derive_corpus,
    merged_window_s,
    relative_locations,
    trace,
    trace_query,
)

REPO = Path(__file__).resolve().parent.parent
SRC = SF_SMOKE


def test_merged_window_disjoint_sums():
    assert abs(merged_window_s([(1.0, 2.0), (5.0, 7.0)]) - 3.0) < 1e-6


def test_merged_window_overlap_not_double_counted():
    # [1,4] and [2,6] overlap: union = 5, naive sum = 7
    assert abs(merged_window_s([(1.0, 4.0), (2.0, 6.0)]) - 5.0) < 1e-6


def test_merged_window_contained_interval():
    assert abs(merged_window_s([(1.0, 10.0), (3.0, 4.0)]) - 9.0) < 1e-6


def test_merged_window_skips_incomplete_jobs():
    assert abs(merged_window_s([(1.0, 2.0), (5.0, None)]) - 1.0) < 1e-6


def test_merged_window_empty():
    assert merged_window_s([]) == 0.0


def test_plan_dump_writes_locations_relative_to_the_checkout():
    """A plan dumps to the same bytes from two checkouts: a file index
    under the checkout is written relative to it, paths elsewhere and
    other lines are kept as they are."""
    plan = (
        "(1) Scan parquet spark_catalog.default.bench_lineitem\n"
        "Location: InMemoryFileIndex [file:{root}/spark-warehouse/bench_lineitem]\n"
        "Location: InMemoryFileIndex [file:/data/sf0.1/orders.parquet, "
        "file:{root}/spark-warehouse/t]\n"
        "Output: file:{root}/x\n"
    )
    want = (
        "(1) Scan parquet spark_catalog.default.bench_lineitem\n"
        "Location: InMemoryFileIndex [spark-warehouse/bench_lineitem]\n"
        "Location: InMemoryFileIndex [file:/data/sf0.1/orders.parquet, "
        "spark-warehouse/t]\n"
        "Output: file:{root}/x\n"
    )
    for root in ("/checkouts/a", "/checkouts/b/"):
        got = relative_locations(plan.format(root=root.rstrip("/")), root)
        assert got == want.format(root=root.rstrip("/"))


def test_plan_counts_count_a_reused_exchange_as_a_reuse():
    """A ``ReusedExchange`` line restates the exchange it reuses; it is
    one reuse, not a second shuffle."""
    from mitoscape_spark.trace import plan_counts

    plan = (
        "*(5) Project [k#1L, count#2L, c2#5L]\n"
        "+- *(5) SortMergeJoin [k#1L], [k#7L], Inner\n"
        "   :- *(2) HashAggregate(keys=[g#9L], functions=[count(1)])\n"
        "   :  +- Exchange hashpartitioning(g#9L, 4), ENSURE_REQUIREMENTS, [plan_id=56]\n"
        "   :     +- ArrowEvalPython [f(x#3)#4], [pythonUDF0#8], 200\n"
        "   +- *(4) BroadcastHashJoin [k#7L], [n#11L], Inner, BuildRight\n"
        "      :- ReusedExchange [g#10L, count#12L], Exchange hashpartitioning"
        "(g#9L, 4), ENSURE_REQUIREMENTS, [plan_id=56]\n"
        "      +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint]))\n"
    )
    assert plan_counts(plan) == {
        "exchanges": 1,
        "broadcast_exchanges": 1,
        "reused_exchanges": 1,
        "arrow_eval_python": 1,
    }


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def test_trace_records_jobs_shuffle_and_exec_window(spark):
    from pyspark.sql import functions as F

    df = spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count()
    with trace(spark, "groupby") as rec:
        _noop(df)
    assert len(rec.job_ids) >= 1
    assert rec.stages >= 1
    assert rec.shuffle_write_bytes > 0
    assert 0 < rec.exec_s <= rec.wall_s
    assert math.isclose(rec.floor_s, rec.wall_s - rec.exec_s)


def test_trace_does_not_count_another_threads_group(spark):
    """A job another thread runs under its own group while the trace is
    open is not the trace's."""
    sc = spark.sparkContext
    ran = threading.Event()

    def other():
        sc.setJobGroup("trace_test_other", "other")
        try:
            spark.range(10).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        ran.set()

    with trace(spark, "mine") as rec:
        t = threading.Thread(target=other)
        t.start()
        t.join(timeout=120)
        spark.range(10).count()
    assert not t.is_alive() and ran.is_set()
    others = set(sc.statusTracker().getJobIdsForGroup("trace_test_other"))
    assert others, "the other thread ran no job"
    assert rec.job_ids, "the trace saw no job of its own"
    assert not others & set(rec.job_ids)


def test_nested_trace_restores_outer_group(spark):
    sc = spark.sparkContext
    group = lambda: sc.getLocalProperty("spark.jobGroup.id")  # noqa: E731
    assert group() is None
    with trace(spark, "outer") as outer:
        with trace(spark, "inner") as inner:
            assert group() == inner.group
            spark.range(3).count()
        assert group() == outer.group
        spark.range(3).count()
    assert group() is None, "a top-level trace must clear the group"
    assert inner.job_ids and outer.job_ids
    assert not set(inner.job_ids) & set(outer.job_ids)

    sc.setJobGroup("caller", "caller")
    try:
        with trace(spark, "t"):
            pass
        assert group() == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_trace_query_q01_phases_and_exchanges(spark):
    from mitoscape_spark.queries import QUERIES

    rec = trace_query(spark, "q01", SRC, rounds=1)
    assert set(rec["phases_s"]) == {"analysis", "optimization", "planning"}
    assert all(v is not None and v >= 0 for v in rec["phases_s"].values())
    assert rec["construction_s"] > 0 and rec["jobs"] >= 1
    plan = QUERIES["q01"](spark, SRC)._jdf.queryExecution().executedPlan().toString()
    shuffles = [ln for ln in plan.splitlines() if ln.lstrip(" :|+-").startswith("Exchange ")]
    assert shuffles, plan
    assert rec["exchanges"] == len(shuffles), plan
    assert json.loads(json.dumps(rec)) == rec


def test_derive_corpus_scales_every_table_but_fixed_dims(spark, tmp_path):
    from mitoscape_spark.catalog import TABLES

    out = derive_corpus(spark, SRC, 2, str(tmp_path / "x2"))
    for table in TABLES:
        base = pq.read_metadata(f"{SRC}/{table}.parquet").num_rows
        got = pq.ParquetDataset(f"{out}/{table}.parquet").read().num_rows
        want = base if table in ("nation", "region") else 2 * base
        assert got == want, (table, got, base)


def test_derived_corpus_is_isomorphic(spark, tmp_path):
    """Each copy is an isomorphic disjoint slice: token structure kept
    but token spaces disjoint across copies (no synthetic near-dup
    clusters), embeddings reflected orthogonally (dot products within a
    copy exactly kept, copies decorrelated); otherwise a K× run
    measures pair explosion, not engine scaling."""
    out = derive_corpus(spark, SRC, 2, str(tmp_path / "x2"))

    docs0 = pq.read_table(f"{SRC}/documents.parquet").to_pydict()
    docs = {
        r["doc_id"]: r
        for r in pq.ParquetDataset(f"{out}/documents.parquet").read().to_pylist()
    }
    n = len(docs0["doc_id"])
    assert len(docs) == 2 * n
    d0 = docs0["doc_id"][0]
    base_text = docs0["text"][0]
    copy = docs[d0 + OFFSET]
    # same token count, zero shared tokens, consistent n_chars
    b_toks, c_toks = base_text.split(), copy["text"].split()
    assert len(b_toks) == len(c_toks)
    assert not set(b_toks) & set(c_toks)
    assert copy["n_chars"] == len(copy["text"])
    # equal tokens sit at the same positions in base and copy
    def eq_pairs(toks):
        return {
            (i, j)
            for i in range(len(toks))
            for j in range(i + 1, len(toks))
            if toks[i] == toks[j]
        }

    assert eq_pairs(b_toks) == eq_pairs(c_toks)

    emb0 = pq.read_table(f"{SRC}/embeddings.parquet").to_pydict()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in pq.ParquetDataset(f"{out}/embeddings.parquet").read().to_pylist()
    }
    ids = emb0["vec_id"][:2]
    a0, b0 = emb0["embedding"][0], emb0["embedding"][1]
    a1, b1 = emb[ids[0] + OFFSET], emb[ids[1] + OFFSET]
    dot = lambda x, y: sum(p * q for p, q in zip(x, y))  # noqa: E731
    # a reflection: dots and norms within a copy kept (same float32
    # magnitudes, only signs flip)
    assert math.isclose(dot(a0, b0), dot(a1, b1), rel_tol=1e-6, abs_tol=1e-6)
    assert math.isclose(dot(a0, a0), dot(a1, a1), rel_tol=1e-6)
    # ...and the copy is not the identity (some signs really flipped)
    assert any(abs(x + y) < 1e-12 and abs(x) > 0 for x, y in zip(a0, a1))


def test_derive_corpus_rejects_aliasable_base_tokens(spark, tmp_path):
    """A base token already ending in ``_<digits>`` ('foo_1') equals a
    lower copy's suffixed form ('foo' + '_1') and would re-create the
    cross-copy shingle overlap the suffix exists to prevent: the corpus
    is refused before anything is written."""
    base = tmp_path / "bad_base"
    base.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": ["clean tokens here", "this one has foo_1 inside"],
                "lang": ["en", "en"],
                "source": ["s", "s"],
                "n_chars": pa.array([17, 25], pa.int64()),
            }
        ),
        base / "documents.parquet",
    )
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="_<digits>"):
        derive_corpus(spark, str(base), 2, str(out))
    assert not out.exists()


def test_derived_corpus_matches_branch_derivation(spark, tmp_path):
    """The flat ``range(factor) × broadcast(base)`` plan gives the values
    of the per-copy branch derivation: the same xxhash64(k, j) sign bits,
    '_<k>' suffixes and k·OFFSET id shifts. One copy is re-derived here
    with a literal k and the row sets compared exactly."""
    from pyspark.sql import functions as F

    out = derive_corpus(spark, SRC, 3, str(tmp_path / "x3"))
    k = 2  # a non-trivial hash seed

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    text = F.regexp_replace(F.col("text"), r"(\S+)", f"$1_{k}")
    expect_docs = docs.select(
        (F.col("doc_id") + k * OFFSET).alias("doc_id"),
        text.alias("text"),
        "lang",
        "source",
        F.length(text).cast("long").alias("n_chars"),
    ).collect()
    got_docs = (
        spark.read.parquet(f"{out}/documents.parquet")
        .where(F.col("doc_id") >= k * OFFSET)
        .collect()
    )
    assert sorted(map(tuple, got_docs)) == sorted(map(tuple, expect_docs))

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    flipped = F.transform(
        "embedding",
        lambda v, j: (
            v
            * F.when(
                F.pmod(F.xxhash64(F.lit(k), j), F.lit(2)) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0))
        ).cast("float"),
    )
    expect_emb = emb.select(
        (F.col("vec_id") + k * OFFSET).alias("vec_id"),
        flipped.alias("embedding"),
        "label",
    ).collect()
    got_emb = (
        spark.read.parquet(f"{out}/embeddings.parquet")
        .where(F.col("vec_id") >= k * OFFSET)
        .collect()
    )
    key = lambda r: r.vec_id  # noqa: E731
    assert len(got_emb) == len(expect_emb)
    for g, e in zip(sorted(got_emb, key=key), sorted(expect_emb, key=key)):
        assert g.vec_id == e.vec_id and g.label == e.label
        assert g.embedding == e.embedding  # exact float equality

    # copy 0 passes through byte-identical (ids below the first offset)
    base = pq.read_table(f"{SRC}/documents.parquet").to_pydict()
    got0 = {
        r["doc_id"]: r["text"]
        for r in pq.ParquetDataset(f"{out}/documents.parquet").read().to_pylist()
        if r["doc_id"] < OFFSET
    }
    assert got0 == dict(zip(base["doc_id"], base["text"]))


def test_trace_cli_prints_one_record_per_query(tmp_path):
    """The CLI end to end in its own small session: one JSON line per
    query and a formatted plan dump per query."""
    env = {
        **os.environ,
        "PYTHONPATH": str(REPO),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_CPUS": "2",
    }
    argv = ["--sf", SRC, "--queries", "q01,q06", "--rounds", "1", "--plans", "plans"]
    out = subprocess.run(
        [sys.executable, "-m", "mitoscape_spark.trace", *argv],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    records = [json.loads(line) for line in out.stdout.splitlines()]
    assert [r["query"] for r in records] == ["q01", "q06"]
    for r in records:
        assert r["sf_dir"] == SRC and r["jobs"] >= 1 and r["wall_s"] >= r["exec_s"]
        plan = (tmp_path / "plans" / f"{r['query']}.txt").read_text()
        assert "== Physical Plan ==" in plan
        assert str(tmp_path) not in plan


_CLI = "python -m mitoscape_spark.trace"


def _doc_files() -> list[Path]:
    return [
        REPO / "README.md",
        REPO / ".claude" / "skills" / "verify" / "SKILL.md",
        REPO / "bench.py",
        *sorted((REPO / "mitoscape_spark").rglob("*.py")),
    ]


def test_docs_name_no_tools_path_and_their_trace_examples_parse():
    """The docs and the program name no ``tools/`` script (the probes
    are gone), and every ``python -m mitoscape_spark.trace`` example in
    them parses with the CLI's own parser and names declared queries."""
    from mitoscape_spark.queries import QUERIES

    parser = build_parser()
    stale, examples = [], []
    for path in _doc_files():
        if not path.exists():
            continue
        text = path.read_text()
        for n, line in enumerate(text.splitlines(), 1):
            if re.search(r"(?<![\w./-])tools/", line):
                stale.append(f"{path.relative_to(REPO)}:{n}: {line.strip()}")
        for m in re.finditer(re.escape(_CLI) + r"(?=[\s`]|$)([^`\n]*(?:\\\n[^`\n]*)*)", text):
            examples.append((path.relative_to(REPO), m.group(1).replace("\\\n", " ")))
    assert not stale, "\n".join(stale)
    assert examples, "no trace CLI example found in the docs"
    for path, args in examples:
        try:
            ns = parser.parse_args(shlex.split(args))
        except SystemExit:
            pytest.fail(f"{path}: example does not parse: {_CLI}{args}")
        unknown = [q for q in ns.queries.split(",") if q and q not in QUERIES]
        assert not unknown, f"{path}: {_CLI}{args} names {unknown}"
