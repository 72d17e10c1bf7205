"""CLI — the reference's entry surface re-expressed (``MTClassify.main``
option parsing at ``MTClassify.scala:54-81, 107-127``; training/eval
entry points at ``MTClassifierModel.scala:187-288``).

    python -m mitoscape_spark.cli classify \
        --mt sample_MT.parquet --nt sample_NT.parquet \
        --ld mitomap.ld --numt NUMTs_hg38.txt \
        --model model_dir --out survivors.parquet --prob 0.5

    python -m mitoscape_spark.cli train \
        --training labeled_features.parquet --classifier rf \
        --model-out model_dir

    python -m mitoscape_spark.cli evaluate \
        --training labeled_features.parquet --classifier rf

Deliberate differences from the reference CLI:
  * ``--threads`` is optional — the session master comes from
    spark-submit on a cluster (the reference hard-codes local[threads]);
  * inputs are ``.bam`` (the pure-Python reader in sources.bam),
    ``.sam`` or alignment parquet; ``classify`` releases the pipeline's
    pins before it returns, also when it fails;
  * ``classify`` loads the model and plans the NT splits on worker
    threads while the driver reads the MT input, and the pipeline waits
    for the model only once the feature table is materialised (the
    reference loads it before reading any input); the threads inherit
    the caller's job group and tags. The loaded model is kept for the
    session while its directory is unchanged, so a later pass resolves
    the load at once; the model is shared and is not mutated;
  * a ``.bam`` output takes its reference dictionary from a ``.bam``
    MT input's header, as the reference's ``saveAsSam`` writes the
    input's sequence dictionary; parquet and SAM inputs carry no
    header, so the dictionary is derived from the surviving reads;
  * ``train``/``evaluate`` are reachable from the CLI (the reference
    ships them as dead library code, SURVEY.md §3.2-3.3).
"""

from __future__ import annotations

import argparse
import sys
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


def load_numts(spark: SparkSession, path: str) -> DataFrame:
    """NUMT dimension from the reference's tab format (chrom, start,
    end, score — ``MTClassifierModel.scala:157-172``), kept distributed
    and broadcastable instead of driver-side I/O."""
    return (
        spark.read.options(sep="\t", header="false")
        .csv(path, schema="chrom string, start string, end string, score string")
        .select(
            "chrom",
            F.col("start").cast("int").alias("start"),
            F.col("end").cast("int").alias("end"),
            F.col("score").cast("float").alias("score"),
        )
    )


def _read_alignments(spark: SparkSession, path: str) -> DataFrame:
    from mitoscape_spark.sources.bam import (
        read_alignments_bam,
        read_alignments_parquet,
    )

    if path.endswith(".bam"):
        return read_alignments_bam(spark, path)
    if path.endswith(".sam"):
        from mitoscape_spark.sources.sam import register_sam_source

        register_sam_source(spark)
        return spark.read.format("samtext").load(path)
    return read_alignments_parquet(spark, path)


def cmd_classify(args: argparse.Namespace, spark: SparkSession) -> int:
    from mitoscape_spark.pipeline.classify import classify
    from mitoscape_spark.pipeline.ld import ld_scores_table
    from mitoscape_spark.pipeline.ml import load_pipeline_model

    if not (args.mt and args.nt) and not args.prefix:
        raise SystemExit(
            "classify requires --mt/--nt (or --prefix to derive them)"
        )
    mt_path = args.mt or f"{args.prefix}_MT.parquet"
    nt_path = args.nt or f"{args.prefix}_NT.parquet"

    # wrapped on the caller's thread: each worker gets its own copy of
    # the caller's job group, local properties and tags
    load_model = inheritable_thread_target(spark)(load_pipeline_model)
    read_nt = inheritable_thread_target(spark)(_read_alignments)
    with ThreadPoolExecutor(max_workers=2) as pool:
        model = pool.submit(load_model, args.model)
        nt_future = pool.submit(read_nt, spark, nt_path)
        mt = _read_alignments(spark, mt_path)
        nt = nt_future.result()
        ld = ld_scores_table(spark, args.ld)
        numts = load_numts(spark, args.numt) if args.numt else None
        result = classify(
            mt,
            nt,
            ld,
            numts,
            model=model,
            prob=args.prob,
            genome_relative=not args.read_relative,
        )
    try:
        if args.out.endswith(".bam"):
            # reference parity: saveAsSam(out, asSingleFile=true)
            # (MTClassify.scala:204) — single-file BAM writeback
            from mitoscape_spark.sources.bam import write_alignments_bam
            from mitoscape_spark.sources.bamcodec import read_refs

            refs = read_refs(mt_path)[0] if mt_path.endswith(".bam") else None
            write_alignments_bam(result.alignments, args.out, refs=refs)
        else:
            result.alignments.write.mode("overwrite").parquet(args.out)
        n = result.survivors.count()
    finally:
        result.unpersist()
    print(f"classify: {n} surviving reads -> {args.out}")
    return 0


def cmd_train(args: argparse.Namespace, spark: SparkSession) -> int:
    from mitoscape_spark.pipeline.ml import train_gbt, train_rf

    training = spark.read.parquet(args.training)
    trainer = train_rf if args.classifier == "rf" else train_gbt
    trainer(training, model_path=args.model_out, seed=args.seed)
    print(f"train: {args.classifier} model -> {args.model_out}")
    return 0


def cmd_evaluate(args: argparse.Namespace, spark: SparkSession) -> int:
    from mitoscape_spark.pipeline.ml import (
        evaluate_accuracy,
        train_gbt,
        train_rf,
    )

    training = spark.read.parquet(args.training)
    train, test = training.randomSplit(
        [args.split, 1.0 - args.split], seed=args.seed
    )
    trainer = train_rf if args.classifier == "rf" else train_gbt
    model = trainer(train, seed=args.seed)
    acc = evaluate_accuracy(model, test, prob_threshold=args.prob)
    print(f"evaluate: {args.classifier} accuracy={acc:.4f}")
    return 0


def cmd_table(args, spark: SparkSession) -> int:
    """Snapshot-table management — the lakehouse surface of the CLI."""
    from mitoscape_spark.sources import snapshots as snap

    if args.action == "commit":
        if not args.input:
            raise SystemExit("table commit requires --input")
        stats = args.stats_cols.split(",") if args.stats_cols else None
        v = snap.commit(
            spark.read.parquet(args.input),
            args.table,
            mode=args.mode,
            stats_cols=stats,
        )
        print(f"table: committed version {v}")
    elif args.action == "read":
        df = snap.read(spark, args.table, version=args.version)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"table: wrote {df.count()} rows to {args.out}")
        else:
            print(f"table: version has {df.count()} rows")
    elif args.action == "history":
        for m in snap.history(args.table):
            print(
                f"v{m['version']:>4} {m['mode']:<9} dirs={len(m['dirs'])} "
                f"meta={m.get('meta', {})}"
            )
    elif args.action == "compact":
        v = snap.compact(spark, args.table)
        print(f"table: compacted into version {v}")
    elif args.action == "vacuum":
        removed = snap.vacuum(args.table, keep_versions=args.keep_versions)
        print(f"table: vacuumed {len(removed)} directories")
    elif args.action == "restore":
        if args.version is None:
            raise SystemExit("table restore requires --version")
        v = snap.restore(args.table, args.version)
        print(f"table: restored v{args.version} as version {v}")
    elif args.action == "delete":
        if not args.where:
            raise SystemExit("table delete requires --where")
        v, n = snap.delete_where(spark, args.table, args.where)
        print(f"table: deleted {n} rows in version {v}")
    elif args.action == "delete-dv":
        if not args.where or not args.key_col:
            raise SystemExit("table delete-dv requires --where and --key-col")
        v, n = snap.delete_where_dv(
            spark, args.table, args.where, key_col=args.key_col
        )
        print(f"table: tombstoned {n} keys in version {v} (no rewrite)")
    elif args.action == "changes":
        if args.from_version is None:
            raise SystemExit("table changes requires --from-version")
        feed = snap.table_changes(
            spark, args.table, args.from_version, args.version
        )
        if args.out:
            feed.write.mode("overwrite").parquet(args.out)
            print(f"table: wrote change feed to {args.out}")
        else:
            counts = {
                r["_change_type"]: r["n"]
                for r in feed.groupBy("_change_type").agg(
                    F.count(F.lit(1)).alias("n")
                ).collect()
            }
            print(f"table: changes {counts}")
    elif args.action == "count":
        n = snap.table_count(spark, args.table, args.version)
        print(f"table: {n} rows")
    elif args.action == "zorder":
        if not args.cols:
            raise SystemExit("table zorder requires --cols")
        v = snap.optimize_zorder(
            spark, args.table, args.cols.split(",")
        )
        print(f"table: z-ordered into version {v}")
    elif args.action == "bloom":
        if not args.cols:
            raise SystemExit("table bloom requires --cols")
        v = snap.attach_bloom(spark, args.table, args.cols.split(","))
        print(f"table: bloom filters attached in version {v}")
    elif args.action == "merge":
        if not args.input or not args.key_col:
            raise SystemExit("table merge requires --input and --key-col")
        v = snap.merge_into(
            spark,
            args.table,
            spark.read.parquet(args.input),
            keys=args.key_col.split(","),
        )
        print(f"table: merged into version {v}")
    elif args.action == "clone":
        if not args.out:
            raise SystemExit("table clone requires --out")
        v = snap.clone(spark, args.table, args.out, version=args.version)
        print(f"table: cloned to {args.out} (v{v})")
    elif args.action == "schema-diff":
        if args.from_version is None:
            raise SystemExit("table schema-diff requires --from-version")
        to_v = args.version or snap.latest_version(args.table)
        changes = snap.schema_diff(
            spark, args.table, args.from_version, to_v
        )
        if not changes:
            print("table: schemas identical")
        for c in changes:
            print(
                f"table: {c['change']} {c['column']} "
                f"{c['from_type']} -> {c['to_type']}"
            )
    return 0


def cmd_prep(args, spark: SparkSession) -> int:
    """Corpus-prep pipeline: quality gate → exact dedup → MinHash
    near-dedup → deterministic split assignment → partitioned write.
    The composed LLM-training-data path, runnable end-to-end from the
    shell; every stage is the same oracle-checked operator the query
    surface exposes."""
    from mitoscape_spark.operators.dedup import (
        dedup_keep_canonical,
        exact_dedup,
        minhash_candidate_pairs,
        minhash_signatures,
    )
    from mitoscape_spark.operators.sampling import assign_splits
    from mitoscape_spark.operators.textstats import gopher_rules

    docs = spark.read.parquet(args.input)
    n0 = docs.count()
    if not args.skip_rules:
        passing = gopher_rules(docs).where(F.col("passes")).select("doc_id")
        docs = docs.join(passing, "doc_id", "left_semi")
    docs = exact_dedup(docs, subset=["text"])
    if not args.skip_near_dedup:
        sigs = minhash_signatures(docs)
        pairs = minhash_candidate_pairs(sigs, max_bucket_size=256)
        docs = dedup_keep_canonical(docs, pairs)
    fracs = [float(x) for x in args.splits.split(",")]
    names = ["train", "val", "test"]
    if len(fracs) > len(names):
        raise SystemExit(
            f"prep: --splits supports at most {len(names)} fractions "
            f"({','.join(names)}); got {len(fracs)}"
        )
    if sum(fracs) > 1.0 + 1e-9:
        raise SystemExit("prep: --splits fractions must sum to <= 1")
    if getattr(args, "leakage_safe_splits", False) and not args.skip_near_dedup:
        # refuse rather than silently fall back to plain per-id splits:
        # the guard only has pairs to group when duplicates are KEPT
        raise SystemExit(
            "prep: --leakage-safe-splits requires --skip-near-dedup "
            "(after near-dedup the survivors are already near-dup-free "
            "and plain splits are leakage-safe; with dedup enabled the "
            "flag would be a silent no-op)"
        )
    if getattr(args, "leakage_safe_splits", False) and args.skip_near_dedup:
        # content-level split guard: near-dup components share a split.
        # Only meaningful when duplicates are KEPT (--skip-near-dedup)
        from mitoscape_spark.operators.sampling import leakage_safe_splits

        pairs = minhash_candidate_pairs(
            minhash_signatures(docs), max_bucket_size=256
        )
        docs = leakage_safe_splits(
            docs, pairs, dict(zip(names, fracs)), salt=args.salt
        )
    else:
        # after keep_canonical the survivors are near-dup-free, so the
        # per-id assignment IS already leakage-safe — recomputing the
        # MinHash pass would shingle+hash the whole corpus to derive
        # an empty pair set (round-4 review finding)
        docs = assign_splits(
            docs, "doc_id", dict(zip(names, fracs)), salt=args.salt
        )
    docs.write.mode("overwrite").partitionBy("split").parquet(args.out)
    out = spark.read.parquet(args.out)
    n1 = out.count()
    per_split = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    print(
        f"prep: {n0} docs in, {n1} kept "
        f"({n0 - n1} dropped), splits={per_split}"
    )
    return 0


def cmd_drift(args, spark: SparkSession) -> int:
    """Drift report between two parquet snapshots, columns chosen by
    the caller — exit code 2 when any column crosses the alert
    threshold, so schedulers can gate downstream jobs on it.
    ``--stat`` picks the statistic: psi (binned, default; works for
    categorical columns too), ks (exact sup-CDF distance, numeric
    only, in [0,1]) or w1 (earth-mover distance, numeric only, in the
    column's own units — pick --alert accordingly)."""
    from mitoscape_spark.operators.drift import (
        drift_report,
        ks_statistic,
        wasserstein_distance,
    )

    ref = spark.read.parquet(args.reference)
    cur = spark.read.parquet(args.current)
    cols = args.columns.split(",")
    worst = 0.0
    if args.stat == "psi":
        rows = drift_report(ref, cur, cols, bins=args.bins).orderBy(
            F.col("psi").desc()
        ).collect()
        for r in rows:
            print(f"drift: {r.col_name} psi={r.psi}")
            worst = max(worst, r.psi or 0.0)
    else:
        two_sample = (
            ks_statistic if args.stat == "ks" else wasserstein_distance
        )
        for col in cols:
            tagged = (
                ref.select(F.col(col).cast("double").alias("_v"))
                .withColumn("_side", F.lit("ref"))
                .unionByName(
                    cur.select(
                        F.col(col).cast("double").alias("_v")
                    ).withColumn("_side", F.lit("cur"))
                )
            )
            row = two_sample(
                tagged, "_v", "_side", "ref", "cur"
            ).collect()[0]
            val = row[0] or 0.0
            print(f"drift: {col} {args.stat}={val}")
            worst = max(worst, val)
    if worst >= args.alert:
        print(
            f"drift: ALERT worst {args.stat} {worst} >= {args.alert}"
        )
        return 2
    return 0


def cmd_forget(args, spark: SparkSession) -> int:
    """Takedown: remove document ids from a streaming dedup service's
    persisted state (band/vector index + pairs table) — deletion-
    vector on the corpus-scale index, copy-on-write on the pairs; the
    ids stay banned until compaction (streaming/sinks.py::
    forget_documents). Run against a quiesced stream."""
    from mitoscape_spark.streaming.sinks import forget_documents

    ids = [int(x) for x in args.ids.split(",")]
    a, b = args.pair_cols.split(",")
    stats = forget_documents(
        spark, args.index, args.pairs, ids,
        pair_cols=(a, b), index_key=args.index_key,
    )
    print(
        f"forget: removed {stats['index_keys_deleted']} index keys, "
        f"{stats['pair_rows_deleted']} pair rows"
    )
    return 0


def cmd_hot_keys(args, spark: SparkSession) -> int:
    """Exact heavy hitters of a column (two-pass candidate/recount)."""
    from mitoscape_spark.operators.heavyhitters import exact_heavy_hitters

    df = spark.read.parquet(args.input)
    out = exact_heavy_hitters(
        df, args.columns.split(","), args.threshold
    ).orderBy(F.col("n").desc())
    for r in out.limit(args.limit).collect():
        key = ",".join(str(r[c]) for c in args.columns.split(","))
        print(f"hot: {key} n={r.n}")
    return 0


def cmd_sketch(args, spark: SparkSession) -> int:
    """Profile a column through the portable sketches: HLL distinct
    estimate and/or Count-Min frequency estimates for given probe keys
    — the KB-state answer to \"how big / how frequent\" that never
    rescans the table twice."""
    df = spark.read.parquet(args.input)
    if args.stat == "hll":
        from mitoscape_spark.operators.hll import (
            hll_estimate,
            hll_registers,
        )

        est = hll_estimate(
            hll_registers(df, args.column, p=args.p), p=args.p
        ).collect()[0]["hll_est"]
        print(f"sketch: {args.column} hll_distinct~={est}")
    else:
        from mitoscape_spark.operators.countmin import (
            countmin_build,
            countmin_estimate,
        )

        if not args.keys:
            raise SystemExit("sketch: --keys required for --stat cms")
        sk = countmin_build(
            df, args.column, width=args.width, depth=args.depth
        )
        probes = spark.createDataFrame(
            [(k,) for k in args.keys.split(",")], f"{args.column} string"
        ).select(F.col(args.column).cast(df.schema[args.column].dataType))
        rows = countmin_estimate(
            sk, probes, args.column, width=args.width, depth=args.depth
        ).orderBy(args.column).collect()
        for r in rows:
            print(f"sketch: {args.column}={r[args.column]} freq~={r.cms_est}")
    return 0


def cmd_eval(args, spark: SparkSession) -> int:
    """Score retrieval runs against qrels (P@k / MRR / nDCG@k,
    trec_eval contract) — runs parquet needs (qid, did, score), qrels
    parquet needs (qid, did)."""
    from mitoscape_spark.operators.retrieval_eval import retrieval_metrics

    runs = spark.read.parquet(args.runs)
    qrels = spark.read.parquet(args.qrels)
    r = retrieval_metrics(runs, qrels, k=args.k).collect()[0]
    print(
        f"eval: n_queries={r.n_queries} p@{args.k}={r.p_at_k} "
        f"mrr={r.mrr} ndcg@{args.k}={r.ndcg}"
    )
    return 0


def cmd_report(args, spark: SparkSession) -> int:
    """One-command corpus report: size, language mix, quality-gate
    pass rate, lexical diversity — the dataset-card numbers from the
    same oracle-checked operators the query surface exposes."""
    from mitoscape_spark.operators.textstats import (
        gopher_rules,
        lang_id,
        token_entropy,
    )

    docs = spark.read.parquet(args.input)
    n = docs.count()
    print(f"report: {n} documents")
    langs = (
        lang_id(docs, args.text_col)
        .groupBy("lang_pred")
        .count()
        .orderBy(F.col("count").desc())
        .limit(5)
        .collect()
    )
    for r in langs:
        print(f"report: lang {r['lang_pred']} n={r['count']}")
    passed = (
        gopher_rules(docs, args.text_col)
        .where(F.col("passes"))
        .count()
    )
    print(
        f"report: gopher-quality pass rate "
        f"{passed}/{n} ({passed / max(n, 1):.1%})"
    )
    if args.group_col:
        ent = token_entropy(
            docs, args.text_col, args.group_col
        ).orderBy(F.col("entropy").desc()).limit(5).collect()
        for r in ent:
            print(
                f"report: {args.group_col}={r[args.group_col]} "
                f"entropy={r['entropy']} ttr={r['type_token_ratio']}"
            )
    return 0


def cmd_expect(args, spark: SparkSession) -> int:
    """Run a JSON expectations file against a parquet table; print the
    report; exit 3 when any rule fails — the ingest gate between
    'load finished' and 'downstream may read'."""
    import json as _json

    from mitoscape_spark.operators.expectations import validate

    with open(args.rules) as fh:
        rules = _json.load(fh)
    df = spark.read.parquet(args.input)
    rows = validate(df, rules).collect()
    failed = 0
    for r in rows:
        status = "ok" if r.passed else "FAIL"
        print(f"expect: [{status}] {r.rule}({r.target}) "
              f"violations={r.n_violations}")
        failed += 0 if r.passed else 1
    if failed:
        print(f"expect: {failed}/{len(rows)} rules failed")
        return 3
    return 0


def cmd_search(args, spark: SparkSession) -> int:
    """Retrieval from the shell: BM25 ranked / exact phrase /
    NEAR-window proximity over a documents parquet."""
    from mitoscape_spark.operators.bm25 import (
        bm25_search,
        phrase_search,
        proximity_search,
    )

    docs = spark.read.parquet(args.input)
    if args.mode == "bm25":
        for r in bm25_search(docs, args.query, k=args.k).collect():
            print(f"search: doc {r.doc_id} bm25={r.bm25}")
    elif args.mode == "phrase":
        rows = phrase_search(docs, args.query).orderBy("doc_id").collect()
        for r in rows[: args.k]:
            print(f"search: doc {r.doc_id}")
        print(f"search: {len(rows)} docs contain the phrase")
    else:  # near
        terms = args.query.split(" ")
        if len(terms) != 2:
            raise SystemExit("search --mode near needs exactly two terms")
        rows = (
            proximity_search(docs, terms[0], terms[1], window=args.window)
            .orderBy("min_gap", "doc_id")
            .collect()
        )
        for r in rows[: args.k]:
            print(f"search: doc {r.doc_id} gap={r.min_gap}")
        print(f"search: {len(rows)} docs match NEAR/{args.window}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mitoscape-spark")
    p.add_argument("--threads", type=int, default=None,
                   help="local[threads]; omit under spark-submit")
    sub = p.add_subparsers(dest="command", required=True)

    c = sub.add_parser("classify", help="score reads, write survivors")
    c.add_argument("--prefix", help="reads <prefix>_MT/_NT.parquet")
    c.add_argument("--mt", help="MT alignment table (overrides --prefix)")
    c.add_argument("--nt", help="NT alignment table (overrides --prefix)")
    c.add_argument("--ld", required=True, help="LD score file (tab)")
    c.add_argument("--numt", help="NUMT interval file (tab)")
    c.add_argument("--model", required=True, help="fitted PipelineModel dir")
    c.add_argument("--out", required=True,
                   help="output path (*.bam -> single-file BAM writeback, "
                        "else parquet)")
    c.add_argument("--prob", type=float, default=0.5)  # MTClassify.scala:115
    c.add_argument("--read-relative", action="store_true",
                   help="compat: read-relative variant positions (SURVEY §8 Q3)")
    c.set_defaults(fn=cmd_classify)

    t = sub.add_parser("train", help="fit RF/GBT on labeled features")
    t.add_argument("--training", required=True, help="labeled feature parquet")
    t.add_argument("--classifier", choices=["rf", "gbt"], default="rf")
    t.add_argument("--model-out", required=True)
    t.add_argument("--seed", type=int, default=42)
    t.set_defaults(fn=cmd_train)

    e = sub.add_parser("evaluate", help="hold-out accuracy")
    e.add_argument("--training", required=True)
    e.add_argument("--classifier", choices=["rf", "gbt"], default="rf")
    e.add_argument("--split", type=float, default=0.7)
    e.add_argument("--prob", type=float, default=0.0)
    e.add_argument("--seed", type=int, default=42)
    e.set_defaults(fn=cmd_evaluate)

    tb = sub.add_parser(
        "table", help="snapshot-table ops (sources/snapshots.py)"
    )
    tb.add_argument("action", choices=[
        "commit", "read", "history", "compact", "vacuum", "restore",
        "delete", "delete-dv", "changes", "count", "zorder",
        "bloom", "merge", "clone", "schema-diff",
    ])
    tb.add_argument("--table", required=True, help="snapshot table dir")
    tb.add_argument("--input", help="parquet path (commit)")
    tb.add_argument("--mode", choices=["append", "overwrite"],
                    default="append", help="commit mode")
    tb.add_argument("--version", type=int, help="read/restore version")
    tb.add_argument("--out", help="parquet output path (read)")
    tb.add_argument("--keep-versions", type=int, help="vacuum retention")
    tb.add_argument("--where", help="delete predicate (SQL boolean)")
    tb.add_argument("--stats-cols", help="comma-separated manifest-stats cols")
    tb.add_argument("--key-col",
                    help="key column(s): delete-dv / merge (comma-sep)")
    tb.add_argument("--cols", help="comma-separated columns (zorder/bloom)")
    tb.add_argument("--from-version", type=int,
                    help="change-feed base version (changes)")
    tb.set_defaults(fn=cmd_table)

    fg = sub.add_parser(
        "forget",
        help="takedown: remove doc ids from a dedup service's "
        "index + pairs tables",
    )
    fg.add_argument("--index", required=True, help="band/vector index dir")
    fg.add_argument("--pairs", required=True, help="pairs table dir")
    fg.add_argument("--ids", required=True, help="comma-separated doc ids")
    fg.add_argument("--index-key", default="doc_id")
    fg.add_argument("--pair-cols", default="doc_a,doc_b")
    fg.set_defaults(fn=cmd_forget)

    pp = sub.add_parser(
        "prep",
        help="corpus prep: rules gate -> dedup -> near-dedup -> splits",
    )
    pp.add_argument("--input", required=True, help="documents parquet")
    pp.add_argument("--out", required=True, help="output dir (partitioned)")
    pp.add_argument("--splits", default="0.9,0.05,0.05",
                    help="train,val,test fractions")
    pp.add_argument("--salt", default="", help="split-hash salt")
    pp.add_argument("--skip-rules", action="store_true")
    pp.add_argument("--skip-near-dedup", action="store_true")
    pp.add_argument(
        "--leakage-safe-splits",
        action="store_true",
        help="split by near-dup COMPONENT instead of row id, so no "
        "near-copy pair straddles train/test (use with "
        "--skip-near-dedup to keep duplicates but quarantine them "
        "into one split)",
    )
    pp.set_defaults(fn=cmd_prep)

    dr = sub.add_parser(
        "drift", help="PSI drift report between two parquet snapshots"
    )
    dr.add_argument("--reference", required=True)
    dr.add_argument("--current", required=True)
    dr.add_argument("--columns", required=True, help="comma-separated")
    dr.add_argument("--bins", type=int, default=10)
    dr.add_argument("--stat", choices=("psi", "ks", "w1"),
                    default="psi",
                    help="psi (binned) | ks (sup-CDF) | w1 (earth-mover)")
    dr.add_argument("--alert", type=float, default=0.25,
                    help="exit 2 when any statistic >= this")
    dr.set_defaults(fn=cmd_drift)

    hk = sub.add_parser(
        "hot-keys", help="exact heavy hitters of key column(s)"
    )
    hk.add_argument("--input", required=True)
    hk.add_argument("--columns", required=True, help="comma-separated")
    hk.add_argument("--threshold", type=int, required=True)
    hk.add_argument("--limit", type=int, default=50)
    hk.set_defaults(fn=cmd_hot_keys)

    sk = sub.add_parser(
        "sketch", help="HLL distinct / Count-Min frequency estimates"
    )
    sk.add_argument("--input", required=True)
    sk.add_argument("--column", required=True)
    sk.add_argument("--stat", choices=("hll", "cms"), default="hll")
    sk.add_argument("--p", type=int, default=8, help="HLL precision")
    sk.add_argument("--width", type=int, default=1024)
    sk.add_argument("--depth", type=int, default=4)
    sk.add_argument("--keys", help="comma-separated probe keys (cms)")
    sk.set_defaults(fn=cmd_sketch)

    ev = sub.add_parser(
        "eval", help="retrieval metrics: P@k / MRR / nDCG@k from runs+qrels"
    )
    ev.add_argument("--runs", required=True, help="(qid, did, score) parquet")
    ev.add_argument("--qrels", required=True, help="(qid, did) parquet")
    ev.add_argument("--k", type=int, default=10)
    ev.set_defaults(fn=cmd_eval)

    rp = sub.add_parser(
        "report", help="one-command corpus report (dataset-card numbers)"
    )
    rp.add_argument("--input", required=True)
    rp.add_argument("--text-col", default="text")
    rp.add_argument("--group-col", default=None,
                    help="optional stratum column for per-group diversity")
    rp.set_defaults(fn=cmd_report)

    ex = sub.add_parser(
        "expect", help="validate a parquet table against a JSON rule file"
    )
    ex.add_argument("--input", required=True)
    ex.add_argument("--rules", required=True, help="JSON list of rules")
    ex.set_defaults(fn=cmd_expect)

    se = sub.add_parser("search", help="BM25 / phrase / NEAR retrieval")
    se.add_argument("--input", required=True, help="documents parquet")
    se.add_argument("--query", required=True)
    se.add_argument("--mode", choices=["bm25", "phrase", "near"],
                    default="bm25")
    se.add_argument("--k", type=int, default=10)
    se.add_argument("--window", type=int, default=5, help="NEAR window")
    se.set_defaults(fn=cmd_search)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    from mitoscape_spark.session import get_spark

    args = build_parser().parse_args(argv)
    own_session = spark is None
    if spark is None:
        master = f"local[{args.threads}]" if args.threads else None
        spark = get_spark("mitoscape-cli", master=master)
    try:
        return args.fn(args, spark)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
