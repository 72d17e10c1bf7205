"""Pure-Python pieces of the measurement tools (tools/serial_floor.py):
the interval-union helper IS the instrument behind PERF.md's serial
floor decomposition — pin its merge semantics so a regression can't
silently skew the exec/floor split. Also checks that every
mitoscape_spark name the tools import resolves.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

from serial_floor import _merged_window_sec  # noqa: E402


def _job(sub: str, comp: str) -> dict:
    return {"submissionTime": sub, "completionTime": comp}


def _ts(sec: float) -> str:
    # Spark REST format: 2026-08-14T21:00:SS.mmmGMT
    whole = int(sec)
    frac = int(round((sec - whole) * 1000))
    return f"2026-08-14T21:00:{whole:02d}.{frac:03d}GMT"


def test_tools_mitoscape_imports_resolve():
    """Every mitoscape_spark name a tool imports exists, checked without
    a Spark session: the probes import queries and helpers by name
    (extension query functions, domain._fixture_model), so a registry
    or module reshuffle would otherwise break them silently."""
    import ast
    import importlib
    import importlib.util
    from pathlib import Path

    tools = Path(__file__).resolve().parent.parent / "tools"
    checked, missing = 0, []
    for path in sorted(tools.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).startswith("mitoscape_spark"):
                mod = importlib.import_module(node.module)
                for alias in node.names:
                    checked += 1
                    name = f"{node.module}.{alias.name}"
                    # `from pkg import submodule` imports it on demand
                    if not hasattr(mod, alias.name) and not (
                        hasattr(mod, "__path__")
                        and importlib.util.find_spec(name) is not None
                    ):
                        missing.append(f"{path.name}: {name}")
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith("mitoscape_spark"):
                        checked += 1
                        importlib.import_module(alias.name)
    assert not missing, missing
    assert checked > 0


def test_plan_capture_writes_locations_relative_to_the_checkout():
    """tools/plan_capture.py dumps the same bytes from two checkouts:
    a file index under the checkout is written relative to it, paths
    elsewhere and other lines are kept as they are."""
    from plan_capture import relative_locations

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


def test_merged_window_disjoint_sums():
    jobs = [_job(_ts(1), _ts(2)), _job(_ts(5), _ts(7))]
    assert abs(_merged_window_sec(jobs) - 3.0) < 1e-6


def test_merged_window_overlap_not_double_counted():
    # [1,4] and [2,6] overlap: union = 5, naive sum = 7
    jobs = [_job(_ts(1), _ts(4)), _job(_ts(2), _ts(6))]
    assert abs(_merged_window_sec(jobs) - 5.0) < 1e-6


def test_merged_window_contained_interval():
    jobs = [_job(_ts(1), _ts(10)), _job(_ts(3), _ts(4))]
    assert abs(_merged_window_sec(jobs) - 9.0) < 1e-6


def test_merged_window_skips_incomplete_jobs():
    jobs = [_job(_ts(1), _ts(2)), {"submissionTime": _ts(5)}]
    assert abs(_merged_window_sec(jobs) - 1.0) < 1e-6


def test_merged_window_empty():
    assert _merged_window_sec([]) == 0.0


def test_ext_scale_probe_corpus_is_isomorphic(spark, tmp_path, monkeypatch):
    """tools/ext_scale_probe.py _synthesize: each copy must be an
    ISOMORPHIC disjoint slice — token structure preserved but token
    spaces disjoint across copies (no synthetic near-dup clusters),
    and embeddings reflected orthogonally (intra-copy dot products
    exactly preserved, cross-copy decorrelated) — otherwise the 10x
    exponent measures pair explosion, not engine scaling."""
    import math

    import ext_scale_probe as P
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    monkeypatch.setattr(P, "_BASE", src)
    out = str(tmp_path / "ext2x")
    P._synthesize(spark, 2, out, {"documents", "embeddings"})

    docs0 = pq.read_table(f"{src}/documents.parquet").to_pydict()
    docs = {
        r["doc_id"]: r
        for r in pq.ParquetDataset(f"{out}/documents.parquet").read().to_pylist()
    }
    n = len(docs0["doc_id"])
    assert len(docs) == 2 * n
    d0 = docs0["doc_id"][0]
    base_text = docs0["text"][0]
    copy = docs[d0 + P._OFFSET]
    # same token count, zero shared tokens, consistent n_chars
    b_toks, c_toks = base_text.split(), copy["text"].split()
    assert len(b_toks) == len(c_toks)
    assert not set(b_toks) & set(c_toks)
    assert copy["n_chars"] == len(copy["text"])
    # intra-copy token equality classes preserved: positions of equal
    # tokens match between base and copy
    eq_base = {(i, j) for i in range(len(b_toks)) for j in range(i + 1, len(b_toks)) if b_toks[i] == b_toks[j]}
    eq_copy = {(i, j) for i in range(len(c_toks)) for j in range(i + 1, len(c_toks)) if c_toks[i] == c_toks[j]}
    assert eq_base == eq_copy

    emb0 = pq.read_table(f"{src}/embeddings.parquet").to_pydict()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in pq.ParquetDataset(f"{out}/embeddings.parquet").read().to_pylist()
    }
    ids = emb0["vec_id"][:2]
    a0, b0 = emb0["embedding"][0], emb0["embedding"][1]
    a1, b1 = emb[ids[0] + P._OFFSET], emb[ids[1] + P._OFFSET]
    dot = lambda x, y: sum(p * q for p, q in zip(x, y))  # noqa: E731
    # orthogonal reflection: intra-copy dots/norms exactly preserved
    # (same float32 magnitudes, only signs flip)
    assert math.isclose(dot(a0, b0), dot(a1, b1), rel_tol=1e-6, abs_tol=1e-6)
    assert math.isclose(dot(a0, a0), dot(a1, a1), rel_tol=1e-6)
    # ...and the copy is NOT the identity (some signs really flipped)
    assert any(abs(x + y) < 1e-12 and abs(x) > 0 for x, y in zip(a0, a1))


def test_ext_scale_probe_rejects_aliasable_base_tokens(spark, tmp_path, monkeypatch):
    """Round-10 advice item 2: a base token already ending in
    ``_<digits>`` (e.g. 'foo_1') aliases a lower copy's suffixed form
    ('foo' + '_1'), silently re-creating the cross-copy shingle overlap
    the suffix scheme exists to prevent. _synthesize must refuse such a
    corpus instead of measuring pair explosion."""
    import ext_scale_probe as P
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

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
    monkeypatch.setattr(P, "_BASE", str(base))
    with pytest.raises(ValueError, match="_<digits>"):
        P._synthesize(spark, 2, str(tmp_path / "out"), {"documents"})


def test_ext_scale_probe_flat_plan_matches_branch_derivation(
    spark, tmp_path, monkeypatch
):
    """Round 11: _synthesize switched from a factor-branch unionByName
    to a flat ``base CROSS JOIN range(factor)`` plan (O(1) plan size —
    what unlocks the 1000x probe). The copy VALUES must be identical to
    the old branch derivation: same xxhash64(k, j) sign bits, same
    '_<k>' suffixes, same k*OFFSET id shifts. This test re-derives one
    copy the old literal-k way and compares row sets exactly."""
    import ext_scale_probe as P
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.001"
    monkeypatch.setattr(P, "_BASE", src)
    out = str(tmp_path / "flat3x")
    P._synthesize(spark, 3, out, {"documents", "embeddings"})

    k = 2  # compare copy 2 (a non-trivial hash seed)

    docs = spark.read.parquet(f"{src}/documents.parquet")
    text = F.regexp_replace(F.col("text"), r"(\S+)", f"$1_{k}")
    expect_docs = docs.select(
        (F.col("doc_id") + k * P._OFFSET).alias("doc_id"),
        text.alias("text"),
        "lang",
        "source",
        F.length(text).cast("long").alias("n_chars"),
    ).collect()
    got_docs = (
        spark.read.parquet(f"{out}/documents.parquet")
        .where(F.col("doc_id") >= k * P._OFFSET)
        .collect()
    )
    assert sorted(map(tuple, got_docs)) == sorted(map(tuple, expect_docs))

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
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
        (F.col("vec_id") + k * P._OFFSET).alias("vec_id"),
        flipped.alias("embedding"),
        "label",
    ).collect()
    got_emb = (
        spark.read.parquet(f"{out}/embeddings.parquet")
        .where(F.col("vec_id") >= k * P._OFFSET)
        .collect()
    )
    key = lambda r: r.vec_id  # noqa: E731
    for g, e in zip(sorted(got_emb, key=key), sorted(expect_emb, key=key)):
        assert g.vec_id == e.vec_id and g.label == e.label
        assert g.embedding == e.embedding  # exact float equality

    # copy 0 passes through byte-identical (ids below the first offset)
    base = pq.read_table(f"{src}/documents.parquet").to_pydict()
    got0 = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{out}/documents.parquet").to_pylist()
        if r["doc_id"] < P._OFFSET
    }
    assert got0 == dict(zip(base["doc_id"], base["text"]))


def test_spill_probe_corpus_derivation(tmp_path):
    """tools/spill_probe.py build_corpus: FACTOR perturbed copies with
    shifted ids, per-copy text suffix (copy 0 byte-identical), and a
    first-dim embedding offset — the planted-clique construction the
    §22 memory-pressure numbers depend on."""
    import pyarrow.parquet as pq
    from spill_probe import build_corpus

    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "derived")
    build_corpus(src, out, factor=3)

    docs0 = pq.read_table(f"{src}/documents.parquet").to_pydict()
    docs = pq.read_table(f"{out}/documents.parquet").to_pydict()
    n = len(docs0["doc_id"])
    assert len(docs["doc_id"]) == 3 * n
    # copy 0 byte-identical; copy k id-shifted with suffixed text
    assert docs["doc_id"][:n] == docs0["doc_id"]
    assert docs["text"][:n] == docs0["text"]
    assert docs["doc_id"][n : 2 * n] == [i + 10_000_000 for i in docs0["doc_id"]]
    assert all(
        t is None or t.endswith(" rev1") for t in docs["text"][n : 2 * n]
    )

    emb0 = pq.read_table(f"{src}/embeddings.parquet").to_pydict()
    emb = pq.read_table(f"{out}/embeddings.parquet").to_pydict()
    m = len(emb0["vec_id"])
    assert len(emb["vec_id"]) == 3 * m
    v0, v2 = emb0["embedding"][0], emb["embedding"][2 * m]
    # embeddings are float32 on disk — compare at float32 resolution
    assert abs(v2[0] - (v0[0] + 2e-3)) < 1e-6 and list(v2[1:]) == list(v0[1:])
    # relational tables linked through so query preambles resolve
    assert os.path.exists(f"{out}/lineitem.parquet")
