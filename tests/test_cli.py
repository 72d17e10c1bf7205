"""CLI end-to-end: train on labeled fixtures, classify alignment
parquet with the reference's file formats (tab LD + tab NUMT), check
the survivor parquet."""

from __future__ import annotations

import re

import pytest

from mitoscape_spark.cli import load_numts, main
from mitoscape_spark.pipeline import fixtures
from mitoscape_spark.sources.bam import ALIGNMENT_SCHEMA, write_alignments_bam

ALIGNMENT_COLUMNS = [f.name for f in ALIGNMENT_SCHEMA.fields]


def _as_alignment_schema(df):
    """Cast fixture frames to sources.bam.ALIGNMENT_SCHEMA types (what
    an offline BAM→parquet converter produces)."""
    from pyspark.sql import functions as F

    from mitoscape_spark.sources.bam import ALIGNMENT_SCHEMA

    casts = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in ALIGNMENT_SCHEMA.fields
        if f.name in df.columns
    ]
    return df.select(*casts)


@pytest.fixture(scope="module")
def cli_inputs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    mt = _as_alignment_schema(
        fixtures.to_spark(spark, fixtures.mt_alignments_pdf(80))
    )
    nt = _as_alignment_schema(
        fixtures.to_spark(spark, fixtures.nt_alignments_pdf(80))
    )
    mt.write.parquet(str(root / "sample_MT.parquet"))
    nt.write.parquet(str(root / "sample_NT.parquet"))
    # the same alignments as the BAM pair the reference consumes
    refs = [("chrM", 16569)] + [(c, 10**9) for c in fixtures.CHROMS]
    write_alignments_bam(mt, str(root / "sample_MT.bam"), refs)
    write_alignments_bam(nt, str(root / "sample_NT.bam"), refs)

    fixtures.ld_scores_pdf(2000).to_csv(
        root / "ld.tsv", sep="\t", header=False, index=False
    )
    fixtures.numts_pdf().to_csv(
        root / "numts.tsv", sep="\t", header=False, index=False
    )
    training = fixtures.to_spark_canonical(
        spark, fixtures.labeled_features_pdf(1000), "Read"
    )
    training.write.parquet(str(root / "training.parquet"))
    return root


def test_cli_train_then_classify(spark, cli_inputs):
    root = cli_inputs
    rc = main(
        [
            "train",
            "--training", str(root / "training.parquet"),
            "--classifier", "rf",
            "--model-out", str(root / "model"),
        ],
        spark=spark,
    )
    assert rc == 0

    rc = main(
        [
            "classify",
            "--prefix", str(root / "sample"),
            "--ld", str(root / "ld.tsv"),
            "--numt", str(root / "numts.tsv"),
            "--model", str(root / "model"),
            "--out", str(root / "survivors.parquet"),
            "--prob", "0.5",
        ],
        spark=spark,
    )
    assert rc == 0
    out = spark.read.parquet(str(root / "survivors.parquet"))
    # survivors ⊆ original MT alignments, schema preserved
    src = spark.read.parquet(str(root / "sample_MT.parquet"))
    assert set(out.columns) == set(src.columns)
    assert 0 < out.count() <= src.count()
    # every surviving alignment keeps its read grouping: the semi-join
    # keeps all alignments of a surviving read
    names_out = {r.read_name for r in out.select("read_name").distinct().collect()}
    per_read_src = (
        src.where(src.read_name.isin(list(names_out)))
        .groupBy("read_name").count().collect()
    )
    per_read_out = dict(
        (r.read_name, r["count"])
        for r in out.groupBy("read_name").count().collect()
    )
    assert {r.read_name: r["count"] for r in per_read_src} == per_read_out


def test_cli_classify_single_file_bam_out(spark, cli_inputs):
    """--out *.bam triggers the single-file BAM writeback (reference's
    saveAsSam asSingleFile parity); output is one valid BAM whose
    surviving read set matches the parquet sink's."""
    import os

    from mitoscape_spark.sources.bam import read_alignments_bam

    root = cli_inputs
    assert os.path.isdir(root / "model"), "train test must run first"
    rc = main(
        [
            "classify",
            "--prefix", str(root / "sample"),
            "--ld", str(root / "ld.tsv"),
            "--numt", str(root / "numts.tsv"),
            "--model", str(root / "model"),
            "--out", str(root / "survivors.bam"),
            "--prob", "0.5",
        ],
        spark=spark,
    )
    assert rc == 0
    assert os.path.isfile(root / "survivors.bam")
    bam = read_alignments_bam(spark, str(root / "survivors.bam"))
    pq = spark.read.parquet(str(root / "survivors.parquet"))
    assert bam.count() == pq.count()
    assert {r.read_name for r in bam.select("read_name").collect()} == {
        r.read_name for r in pq.select("read_name").collect()
    }


def test_cli_classify_bam_pass_releases_its_pins(spark, cli_inputs):
    """A classify pass from a BAM pair leaves no cached data behind: a
    leftover pin would let the next pass reuse a stale decode."""
    root = cli_inputs
    assert (root / "model").is_dir(), "train test must run first"
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    argv = [
        "classify",
        "--mt", str(root / "sample_MT.bam"),
        "--nt", str(root / "sample_NT.bam"),
        "--ld", str(root / "ld.tsv"),
        "--numt", str(root / "numts.tsv"),
        "--model", str(root / "model"),
        "--out", str(root / "from_bam.parquet"),
        "--prob", "0.5",
    ]
    assert main(argv, spark=spark) == 0
    assert cache.isEmpty(), "classify left cached data in the session"
    # BAM ingest scores the same reads as the parquet copies
    got = spark.read.parquet(str(root / "from_bam.parquet"))
    want = spark.read.parquet(str(root / "survivors.parquet"))
    assert {r.read_name for r in got.select("read_name").collect()} == {
        r.read_name for r in want.select("read_name").collect()
    }


def _plan_children(node) -> list:
    """A physical plan node's children, looking through adaptive plans,
    query stages and cached relations."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "InMemoryTableScan":
        return [node.relation()]
    if name == "InMemoryRelation":
        return [node.cachedPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _bam_scan_parents(node, parent=None) -> list[str]:
    """For every BAM decode (``MapInPandas scan``) under ``node``, its
    nearest ancestor that is an operator, not a code-gen, adaptive or
    query-stage wrapper."""
    name = node.nodeName()
    found = []
    if name == "MapInPandas" and "scan(" in node.simpleString(5):
        found.append(parent.simpleString(len(ALIGNMENT_COLUMNS)))
    wrapper = name.endswith("QueryStage") or name.startswith(
        ("AdaptiveSparkPlan", "WholeStageCodegen", "InputAdapter")
    )
    for child in _plan_children(node):
        found += _bam_scan_parents(child, parent if wrapper else node)
    return found


def test_classify_decodes_each_bam_once(spark, cli_inputs):
    """Every BAM decode in the executed plans of a classify pass sits
    directly under the pinned decode's InMemoryRelation, so each input
    is decoded once however many actions and self-joins read it."""
    from mitoscape_spark.pipeline.classify import classify
    from mitoscape_spark.pipeline.ld import ld_scores_table
    from mitoscape_spark.pipeline.ml import load_pipeline_model
    from mitoscape_spark.sources.bam import read_alignments_bam

    root = cli_inputs
    assert (root / "model").is_dir(), "train test must run first"
    result = classify(
        read_alignments_bam(spark, str(root / "sample_MT.bam")),
        read_alignments_bam(spark, str(root / "sample_NT.bam")),
        ld_scores_table(spark, str(root / "ld.tsv")),
        load_numts(spark, str(root / "numts.tsv")),
        model=load_pipeline_model(str(root / "model")),
    )
    try:
        pinned = "InMemoryRelation [" + ", ".join(ALIGNMENT_COLUMNS) + "]"
        for name in ("features", "survivors", "alignments"):
            df = getattr(result, name)
            df.count()
            parents = _bam_scan_parents(df._jdf.queryExecution().executedPlan())
            assert parents, f"{name}: no BAM scan in the plan"
            for parent in parents:
                # attribute ids ("read_name#12") vary; strip them
                assert re.sub(r"#\d+L?", "", parent).startswith(pinned), (
                    f"{name}: a BAM scan runs outside its pin, under {parent[:120]}"
                )
    finally:
        result.unpersist()


def test_cli_evaluate_accuracy_threshold(spark, cli_inputs):
    rc = main(
        [
            "evaluate",
            "--training", str(cli_inputs / "training.parquet"),
            "--classifier", "rf",
        ],
        spark=spark,
    )
    assert rc == 0


def test_load_numts_types(spark, cli_inputs):
    numts = load_numts(spark, str(cli_inputs / "numts.tsv"))
    assert [f.dataType.typeName() for f in numts.schema.fields] == [
        "string", "integer", "integer", "float",
    ]
    assert numts.count() == 25


def test_cli_table_lifecycle(spark, tmp_path, capsys):
    """commit → history → delete → restore → compact → vacuum through
    the CLI surface."""
    from mitoscape_spark.cli import main

    src = str(tmp_path / "src")
    spark.range(0, 100).withColumnRenamed("id", "k").write.parquet(src)
    t = str(tmp_path / "tbl")

    assert main(["table", "commit", "--table", t, "--input", src,
                 "--stats-cols", "k"], spark=spark) == 0
    assert main(["table", "delete", "--table", t, "--where", "k >= 50"],
                spark=spark) == 0
    assert main(["table", "restore", "--table", t, "--version", "1"],
                spark=spark) == 0
    assert main(["table", "compact", "--table", t], spark=spark) == 0
    assert main(["table", "vacuum", "--table", t, "--keep-versions", "1"],
                spark=spark) == 0
    assert main(["table", "history", "--table", t], spark=spark) == 0
    assert main(["table", "read", "--table", t], spark=spark) == 0
    out = capsys.readouterr().out
    assert "committed version 1" in out
    assert "deleted 50 rows in version 2" in out
    assert "restored v1 as version 3" in out
    assert "compacted into version 4" in out
    assert "100 rows" in out

    from mitoscape_spark.sources import snapshots as snap

    assert snap.read(spark, t).count() == 100


def test_cli_prep_end_to_end(spark, tmp_path):
    """prep: rules gate -> exact dedup -> minhash near-dedup -> splits,
    from the shell surface. Duplicate docs must collapse, split
    partitions must land on disk, and the drop is deterministic."""
    from pyspark.sql import functions as F

    import mitoscape_spark.cli as cli
    from mitoscape_spark.catalog import load_table

    SF_T2 = "/root/testdata/sf0.01"

    docs = load_table(spark, SF_T2, "documents").limit(120)
    # plant an exact duplicate and a near duplicate of doc 0
    base = docs.where(F.col("doc_id") == 0).select("text").head()["text"]
    extra = spark.createDataFrame(
        [
            (9001, base, "en", "srcX", len(base)),
            (9002, base + " tail", "en", "srcX", len(base) + 5),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    docs.unionByName(extra).write.parquet(src)
    rc = cli.main(
        ["prep", "--input", src, "--out", out, "--skip-rules"],
        spark=spark,
    )
    assert rc == 0
    kept = spark.read.parquet(out)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 9001 not in ids  # exact duplicate of doc 0 collapsed
    assert 0 in ids
    assert set(kept.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"
    }
    # rerun is byte-deterministic on membership
    out2 = str(tmp_path / "out2")
    cli.main(
        ["prep", "--input", src, "--out", out2, "--skip-rules"],
        spark=spark,
    )
    ids2 = {
        r.doc_id for r in spark.read.parquet(out2).select("doc_id").collect()
    }
    assert ids == ids2


def test_cli_prep_leakage_safe_splits_quarantine_near_dups(spark, tmp_path):
    """prep --skip-near-dedup --leakage-safe-splits: duplicates are
    KEPT, but every near-dup pair lands in the same split — the
    quarantine mode for corpora where duplicates are wanted in
    training yet must never straddle the eval boundary."""
    from pyspark.sql import functions as F

    import mitoscape_spark.cli as cli
    from mitoscape_spark.catalog import load_table
    from mitoscape_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )

    SF_T2 = "/root/testdata/sf0.01"
    docs = load_table(spark, SF_T2, "documents").limit(120)
    base = docs.where(F.col("doc_id") == 0).select("text").head()["text"]
    extra = spark.createDataFrame(
        [(9002, base + " tail", "en", "srcX", len(base) + 5)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    docs.unionByName(extra).write.parquet(src)
    rc = cli.main(
        [
            "prep", "--input", src, "--out", out, "--skip-rules",
            "--skip-near-dedup", "--leakage-safe-splits",
            "--splits", "0.5,0.25,0.25",
        ],
        spark=spark,
    )
    assert rc == 0
    kept = spark.read.parquet(out)
    split_of = {r.doc_id: r.split for r in kept.select("doc_id", "split").collect()}
    assert 9002 in split_of  # near-dup kept (no near-dedup pass)
    # no minhash candidate pair straddles splits
    pairs = minhash_candidate_pairs(
        minhash_signatures(kept.select("doc_id", "text"))
    ).collect()
    assert pairs  # the planted near-dup produces at least one pair
    for p in pairs:
        assert split_of[p.doc_a] == split_of[p.doc_b]


def test_cli_prep_leakage_safe_without_skip_near_dedup_refuses(
    spark, tmp_path
):
    """--leakage-safe-splits without --skip-near-dedup must be a loud
    SystemExit, not a silent fallback to plain per-id splits (round-4
    advice): the guard only has pairs to group when duplicates are
    kept."""
    import pytest

    import mitoscape_spark.cli as cli
    from mitoscape_spark.catalog import load_table

    src = str(tmp_path / "in")
    load_table(spark, "/root/testdata/sf0.01", "documents").limit(
        20
    ).write.parquet(src)
    with pytest.raises(SystemExit, match="leakage-safe-splits"):
        cli.main(
            [
                "prep", "--input", src, "--out", str(tmp_path / "out"),
                "--skip-rules", "--leakage-safe-splits",
            ],
            spark=spark,
        )


def test_cli_forget_removes_service_state(spark, tmp_path):
    """forget subcommand: ids leave the index (DV) and the pairs
    table (CoW) via forget_documents."""
    from pyspark.sql import functions as F

    import mitoscape_spark.cli as cli
    from mitoscape_spark.catalog import load_table
    from mitoscape_spark.sources import snapshots as snap
    from mitoscape_spark.streaming.sinks import dedup_index_committer

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    idx, prs = str(tmp_path / "idx"), str(tmp_path / "prs")
    dedup_index_committer(idx, prs, max_bucket_size=None)(docs, 0)
    victim = int(snap.read(spark, prs).head().doc_a)
    rc = cli.main(
        ["forget", "--index", idx, "--pairs", prs, "--ids", str(victim)],
        spark=spark,
    )
    assert rc == 0
    assert snap.read(spark, idx).where(
        F.col("doc_id") == victim
    ).count() == 0
    assert snap.read(spark, prs).where(
        (F.col("doc_a") == victim) | (F.col("doc_b") == victim)
    ).count() == 0


def test_cli_table_dv_and_changes(spark, tmp_path):
    import os

    import mitoscape_spark.cli as cli
    from mitoscape_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    src = str(tmp_path / "src")
    spark.range(10).withColumnRenamed("id", "v").write.parquet(src)
    cli.main(
        ["table", "commit", "--table", t, "--input", src], spark=spark
    )
    rc = cli.main(
        [
            "table", "delete-dv", "--table", t,
            "--where", "v % 2 = 0", "--key-col", "v",
        ],
        spark=spark,
    )
    assert rc == 0
    assert sorted(r.v for r in snap.read(spark, t).collect()) == [1, 3, 5, 7, 9]
    feed_out = str(tmp_path / "feed")
    rc = cli.main(
        [
            "table", "changes", "--table", t,
            "--from-version", "1", "--out", feed_out,
        ],
        spark=spark,
    )
    assert rc == 0
    feed = spark.read.parquet(feed_out)
    assert sorted(
        (r._change_type, r.v) for r in feed.collect()
    ) == [("delete", v) for v in (0, 2, 4, 6, 8)]
    assert os.path.isdir(feed_out)


def test_cli_table_count_zorder_bloom_merge(spark, tmp_path):
    import mitoscape_spark.cli as cli
    from mitoscape_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    src = str(tmp_path / "src")
    spark.range(20).selectExpr(
        "id AS k", "id * 2 AS x", "id * 3 AS y"
    ).write.parquet(src)
    cli.main(["table", "commit", "--table", t, "--input", src], spark=spark)
    assert cli.main(["table", "count", "--table", t], spark=spark) == 0
    assert snap.table_count(spark, t) == 20
    assert cli.main(
        ["table", "zorder", "--table", t, "--cols", "x,y"], spark=spark
    ) == 0
    assert cli.main(
        ["table", "bloom", "--table", t, "--cols", "k"], spark=spark
    ) == 0
    upd = str(tmp_path / "upd")
    spark.createDataFrame(
        [(5, 999, 999), (100, 1, 1)], "k long, x long, y long"
    ).write.parquet(upd)
    assert cli.main(
        ["table", "merge", "--table", t, "--input", upd,
         "--key-col", "k"],
        spark=spark,
    ) == 0
    rows = {r.k: r.x for r in snap.read(spark, t).collect()}
    assert rows[5] == 999 and rows[100] == 1 and len(rows) == 21


def test_cli_drift_alert_exit_code(spark, tmp_path, capsys):
    ref_p = str(tmp_path / "ref")
    shifted_p = str(tmp_path / "cur")
    spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS x").write.parquet(ref_p)
    spark.range(1000).selectExpr(
        "CAST(id % 100 + 500 AS DOUBLE) AS x"
    ).write.parquet(shifted_p)
    # identical snapshots: clean exit
    assert main(
        ["drift", "--reference", ref_p, "--current", ref_p,
         "--columns", "x"], spark=spark,
    ) == 0
    # shifted: alert exit
    assert main(
        ["drift", "--reference", ref_p, "--current", shifted_p,
         "--columns", "x"], spark=spark,
    ) == 2
    assert "ALERT" in capsys.readouterr().out


def test_cli_drift_ks_and_w1_stats(spark, tmp_path, capsys):
    ref_p = str(tmp_path / "ref2")
    shifted_p = str(tmp_path / "cur2")
    spark.range(500).selectExpr("CAST(id % 50 AS DOUBLE) AS x").write.parquet(ref_p)
    spark.range(500).selectExpr(
        "CAST(id % 50 + 25 AS DOUBLE) AS x"
    ).write.parquet(shifted_p)
    # identical snapshots: both statistics are 0 -> clean exit
    for stat in ("ks", "w1"):
        assert main(
            ["drift", "--reference", ref_p, "--current", ref_p,
             "--columns", "x", "--stat", stat], spark=spark,
        ) == 0
    # +25 shift: KS = 0.5 (alert at default 0.25), W1 = 25 units
    assert main(
        ["drift", "--reference", ref_p, "--current", shifted_p,
         "--columns", "x", "--stat", "ks"], spark=spark,
    ) == 2
    assert main(
        ["drift", "--reference", ref_p, "--current", shifted_p,
         "--columns", "x", "--stat", "w1", "--alert", "10"],
        spark=spark,
    ) == 2
    out = capsys.readouterr().out
    assert "ks=0.5" in out and "w1=25.0" in out


def test_cli_hot_keys(spark, tmp_path, capsys):
    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [(7,)] * 30 + [(1,)] * 3, "k long"
    ).write.parquet(p)
    assert main(
        ["hot-keys", "--input", p, "--columns", "k", "--threshold", "10"],
        spark=spark,
    ) == 0
    out = capsys.readouterr().out
    assert "hot: 7 n=30" in out and "1" not in out.replace("n=30", "")


def test_cli_expect_gate(spark, tmp_path, capsys):
    import json

    p = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "A"), (2, None)], "k long, s string"
    ).write.parquet(p)
    rules_ok = str(tmp_path / "ok.json")
    rules_bad = str(tmp_path / "bad.json")
    with open(rules_ok, "w") as f:
        json.dump([{"rule": "unique", "cols": ["k"]}], f)
    with open(rules_bad, "w") as f:
        json.dump([{"rule": "not_null", "col": "s"}], f)
    assert main(
        ["expect", "--input", p, "--rules", rules_ok], spark=spark
    ) == 0
    assert main(
        ["expect", "--input", p, "--rules", rules_bad], spark=spark
    ) == 3
    assert "FAIL" in capsys.readouterr().out


def test_cli_table_clone_and_schema_diff(spark, tmp_path, capsys):
    from mitoscape_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    out = str(tmp_path / "branch")
    snap.commit(spark.createDataFrame([(1,)], "k long"), t)
    snap.commit(
        spark.createDataFrame([(2, 1.5)], "k long, s double"),
        t, mode="append", allow_new_columns=True,
    )
    assert main(
        ["table", "clone", "--table", t, "--out", out, "--version", "1"],
        spark=spark,
    ) == 0
    assert snap.read(spark, out).columns == ["k"]
    assert main(
        ["table", "schema-diff", "--table", t, "--from-version", "1"],
        spark=spark,
    ) == 0
    assert "added s" in capsys.readouterr().out


def test_cli_search_modes(spark, tmp_path, capsys):
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "fast vector join inside the engine"),
            (2, "vector appears here and join far away at the end join"),
            (3, "nothing relevant"),
        ],
        "doc_id long, text string",
    ).write.parquet(p)
    assert main(
        ["search", "--input", p, "--query", "vector join",
         "--mode", "phrase"], spark=spark,
    ) == 0
    out = capsys.readouterr().out
    assert "doc 1" in out and "1 docs contain" in out
    assert main(
        ["search", "--input", p, "--query", "vector join",
         "--mode", "near", "--window", "3"], spark=spark,
    ) == 0
    assert "doc 1 gap=1" in capsys.readouterr().out
    assert main(
        ["search", "--input", p, "--query", "vector join"], spark=spark,
    ) == 0
    assert "bm25=" in capsys.readouterr().out


def test_cli_sketch_hll_and_cms(spark, tmp_path, capsys):
    p = str(tmp_path / "sk")
    spark.createDataFrame(
        [(i % 40,) for i in range(400)], "k long"
    ).write.parquet(p)
    assert main(
        ["sketch", "--input", p, "--column", "k"], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "hll_distinct~=" in out
    est = float(out.split("hll_distinct~=")[1].strip())
    assert 30 <= est <= 50  # 40 distinct, small-range correction
    assert main(
        ["sketch", "--input", p, "--column", "k", "--stat", "cms",
         "--keys", "0,1"], spark=spark,
    ) == 0
    out = capsys.readouterr().out
    assert "k=0 freq~=10" in out and "k=1 freq~=10" in out


def test_cli_sketch_cms_requires_keys(spark, tmp_path):
    p = str(tmp_path / "sk2")
    spark.createDataFrame([(1,)], "k long").write.parquet(p)
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(
            ["sketch", "--input", p, "--column", "k", "--stat", "cms"],
            spark=spark,
        )


def test_cli_eval_retrieval_metrics(spark, tmp_path, capsys):
    runs_p, qrels_p = str(tmp_path / "runs"), str(tmp_path / "qrels")
    spark.createDataFrame(
        [("q", "hit", 0.9), ("q", "miss", 0.8)],
        "qid string, did string, score double",
    ).write.parquet(runs_p)
    spark.createDataFrame(
        [("q", "hit")], "qid string, did string"
    ).write.parquet(qrels_p)
    assert main(
        ["eval", "--runs", runs_p, "--qrels", qrels_p, "--k", "2"],
        spark=spark,
    ) == 0
    out = capsys.readouterr().out
    assert "n_queries=1" in out and "mrr=1.0" in out


def test_cli_report(spark, tmp_path, capsys):
    p = str(tmp_path / "docs")
    rows = [
        (i, "the and for with this that are was " * 5, f"s{i % 2}")
        for i in range(6)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(p)
    assert main(
        ["report", "--input", p, "--group-col", "source"], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "report: 6 documents" in out
    assert "gopher-quality pass rate" in out
    assert "entropy=" in out
