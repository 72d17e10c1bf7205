"""Tests of the benchmark itself, run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The Spark tests run both workloads once, traced, on tiny inputs (about
three minutes on four cores).
"""

from __future__ import annotations

import filecmp
import json
import os

import pandas as pd
import pytest

import gen
import oracle
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = 300  # reads
TINY_SF = 0.002
# untimed bookkeeping inside a traced pass, as a share of the pass
TRACE_GAP_SHARE = 0.1


def test_generator_is_deterministic(tmp_path):
    a = gen.classify_inputs(7, str(tmp_path / "a"), TINY)
    b = gen.classify_inputs(7, str(tmp_path / "b"), TINY)
    c = gen.classify_inputs(8, str(tmp_path / "c"), TINY)
    da, db = os.path.dirname(a.mt), os.path.dirname(b.mt)
    names = [f for f in os.listdir(da) if f != "manifest.json"]
    assert len(names) == 7
    _, mismatch, errors = filecmp.cmpfiles(da, db, names, shallow=False)
    assert not mismatch and not errors
    assert a.n_alignments == b.n_alignments
    assert not filecmp.cmp(a.mt, c.mt, shallow=False)

    qa = gen.query_corpus(7, str(tmp_path / "a"), TINY_SF)
    qb = gen.query_corpus(7, str(tmp_path / "b"), TINY_SF)
    names = [f for f in os.listdir(qa) if f.endswith(".parquet")]
    assert len(names) == 10
    _, mismatch, errors = filecmp.cmpfiles(qa, qb, names, shallow=False)
    assert not mismatch and not errors


def test_recorded_variants_match_md_tags(tmp_path):
    """The oracle's premise: the variants the generator recorded are
    exactly what the MD tags encode."""
    from mitoscape_spark.functions.md_parser import parse_md

    p = gen.classify_inputs(7, str(tmp_path), TINY)
    mt = pd.read_parquet(p.mt_parquet)
    valid = mt[gen.valid_mask(mt)]
    parsed = sorted(
        (name, v)
        for name, md, seq, start in zip(valid.read_name, valid.md, valid.seq, valid.start)
        for v in parse_md(md, seq, start - 1)
    )
    recorded = pd.read_parquet(p.variants)
    assert parsed == sorted(zip(recorded.read_name, recorded.variant))


def test_independent_bam_decoder_reads_generated_bam(tmp_path):
    p = gen.classify_inputs(7, str(tmp_path), TINY)
    for bam, parquet in ((p.mt, p.mt_parquet), (p.nt, p.nt_parquet)):
        assert oracle.same_rows(
            oracle.decode_bam(bam), oracle.alignment_rows(pd.read_parquet(parquet))
        )


def test_feature_oracle_rejects_a_perturbed_value(tmp_path):
    p = gen.classify_inputs(7, str(tmp_path), TINY)
    want = oracle.feature_oracle(p)
    assert len(want) > 0 and (want.LD > 0).any()  # LD lookups hit
    good = oracle.table_hash(want)
    assert oracle.table_hash(want.sample(frac=1, random_state=1)) == good
    for col in oracle.FEATURE_COLUMNS:
        bad = want.copy()
        if col == "Read":
            bad.loc[bad.index[0], col] += "x"
        else:
            # one step of the check's resolution: 1e-5 for the
            # 6-decimal float columns, 1 for the integer ones
            bad.loc[bad.index[0], col] += 1e-5 if col in ("MTMapQ", "NTMapQ", "NUMTOverlaps") else 1
        assert oracle.table_hash(bad) != good, col


@pytest.fixture(scope="module")
def traced_runs():
    """Both workloads, traced, on tiny inputs, in this process."""
    import run as cli_run

    stamp = cli_run.box()
    runs = {}
    try:
        for name in ("classify_bam", "queries"):
            partitions = cli_run.configure(name, stamp)
            from spans import Tracer

            r = workloads.Run(
                workload=name,
                seed=3,
                seconds=0,
                trace=True,
                work=cli_run.WORK,
                nproc=stamp["nproc"],
                shuffle_partitions=partitions,
                tracer=Tracer(f"test-{name}"),
            )
            if name == "classify_bam":
                workloads.classify(r, TINY)
            else:
                workloads.queries(r, TINY_SF)
            runs[name] = r
        yield runs
    finally:
        cli_run.stop_jvm()


def test_runs_are_correct(traced_runs):
    for r in traced_runs.values():
        assert r.failures == []
        assert r.attempted > 0


def test_metric_names_match_benchmark_json(traced_runs):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    per_layer = {m["name"] for m in spec["per_layer"]}
    produced: set[str] = set()
    for name, r in traced_runs.items():
        assert set(r.metrics) == e2e
        assert set(r.layers) <= per_layer, set(r.layers) - per_layer
        assert all(v > 0 for v in r.metrics.values())
        families = workloads.LAYER_FAMILIES[name]
        assert set(r.layers) == {m for m in per_layer if m.startswith(families)}
        produced |= set(r.layers)
    assert produced == per_layer, per_layer - produced


def _descendants(tracer, top: int) -> list[int]:
    out = []
    for i, s in enumerate(tracer.spans):
        p = s.parent
        while p is not None and p != top:
            p = tracer.spans[p].parent
        if p == top:
            out.append(i)
    return out


def test_span_self_times_sum_to_traced_pass(traced_runs):
    for r in traced_runs.values():
        tr = r.tracer
        top = next(i for i, s in enumerate(tr.spans) if s.name in ("pass", "query.set"))
        inside = sum(tr.self_time(i) for i in _descendants(tr, top))
        whole = tr.spans[top].duration
        assert inside <= whole
        assert whole - inside <= TRACE_GAP_SHARE * whole
        assert r.layers["bench.trace_gap_s"] == pytest.approx(whole - inside)


def test_decode_layer_separates_the_workloads(traced_runs):
    c, q = traced_runs["classify_bam"].layers, traced_runs["queries"].layers
    assert c["sources.read_alignments_bam_s"] > 0
    assert c["sources.decode_records"] > 0
    assert "sources.read_alignments_bam_s" not in q
    assert q["query.exec_s"] > 0 and "query.exec_s" not in c
