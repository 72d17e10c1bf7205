"""Scale-headroom probe (round-4 verdict item 6): run the heaviest
extension queries at 1×/2×/5× the bench scale (sf0.1 base) and fit the
scaling exponent per query — verifying the plans' claimed linear /
log-linear shapes by measurement, not assertion.

Scaled inputs are DERIVED from the driver-generated sf0.1 tables (we
must not synthesize unrelated data, and cannot write /root/testdata):

* documents — copy k recombines halves of two DIFFERENT source docs
  (front of doc i + back of doc i+k·17). New content keeps the token /
  shingle distribution without creating near-dup cliques of the source
  (a verbatim-copy corpus would multiply pair counts superlinearly and
  poison the exponent).
* embeddings — copy k perturbs each coordinate with deterministic
  hash-seeded noise (±0.35·span), killing copy↔source cosine
  similarity while keeping the dimension/scale profile.
* lineitem — copy k offsets order/part keys by k·10⁹: the co-purchase
  graph becomes k disjoint isomorphic components (same density — the
  right shape for a per-node-cost probe).

mito_classify scales through its OWN fixture parameter (n_reads
120 → 240 → 600 → 6000, i.e. 1×/2×/5×/50×): the pipeline is re-run
end-to-end at each size.

Usage: python tools/scale_probe.py
Writes scaled parquet under <repo>/.scale_probe/ (gitignored) and
prints a per-query table + one JSON line for PERF.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_BASE = "/root/testdata/sf0.1"
_OUT = os.path.join(_REPO, ".scale_probe")


def _synthesize(spark, mult: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from mitoscape_spark.catalog import load_table

    os.makedirs(out_dir, exist_ok=True)

    docs = load_table(spark, _BASE, "documents")
    n_docs = docs.count()  # loop-invariant: one job, not one per copy
    parts = [docs]
    for k in range(1, mult):
        a = docs.select(
            "doc_id",
            F.substring("text", 1, 400).alias("front"),
            "lang", "source",
        )
        b = docs.select(
            (F.col("doc_id") + 17 * k).alias("doc_id"),
            F.substring("text", 401, 1 << 20).alias("back"),
        )
        # wrap the partner id around the corpus
        joined = a.join(
            b.withColumn("doc_id", F.pmod("doc_id", F.lit(n_docs))),
            "doc_id",
        )
        parts.append(
            joined.select(
                (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
                F.concat_ws(" ", "front", "back").alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length("text"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = load_table(spark, _BASE, "embeddings")
    eparts = [emb]
    for k in range(1, mult):
        noisy = F.expr(
            f"transform(embedding, (x, i) -> CAST(x + 0.35 * "
            f"((pmod(hash(vec_id, i, {k}), 2000) - 1000) / 1000.0) "
            f"AS FLOAT))"
        )
        eparts.append(
            emb.select(
                (F.col("vec_id") + k * 10_000_000).alias("vec_id"),
                noisy.alias("embedding"),
                "label",
            )
        )
    eout = eparts[0]
    for p in eparts[1:]:
        eout = eout.unionByName(p)
    eout.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    li = load_table(spark, _BASE, "lineitem")
    lparts = [li]
    for k in range(1, mult):
        lparts.append(
            li.withColumn(
                "l_orderkey", F.col("l_orderkey") + k * 1_000_000_000
            ).withColumn(
                "l_partkey", F.col("l_partkey") + k * 1_000_000_000
            )
        )
    lout = lparts[0]
    for p in lparts[1:]:
        lout = lout.unionByName(p)
    lout.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")


def _time_query(fn, spark, sf_dir: str, n_rounds: int = 2) -> float:
    best = None
    for _ in range(n_rounds):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def main() -> int:
    sys.path.insert(0, _REPO)
    from mitoscape_spark.queries.extensions import (
        ext_dedup_embedding,
        ext_jaccard_prefix,
        ext_tfidf_pairs,
        ext_triangle_count,
    )
    from mitoscape_spark.session import get_spark

    spark = get_spark("scale-probe")

    dirs = {1: _BASE}
    for mult in (2, 5):
        d = os.path.join(_OUT, f"x{mult}")
        if not os.path.exists(f"{d}/lineitem.parquet"):
            print(f"synthesizing x{mult} ...", file=sys.stderr)
            _synthesize(spark, mult, d)
        dirs[mult] = d

    queries = {
        "ext_jaccard_prefix": ext_jaccard_prefix,
        "ext_tfidf_pairs": ext_tfidf_pairs,
        "ext_dedup_embedding": ext_dedup_embedding,
        "ext_triangle_count": ext_triangle_count,
    }

    import math

    results = {}
    for name, fn in queries.items():
        # warm the plan shape once at base scale
        _time_query(fn, spark, dirs[1], n_rounds=1)
        t = {m: round(_time_query(fn, spark, d), 3) for m, d in dirs.items()}
        exp = math.log(t[5] / t[1]) / math.log(5)
        results[name] = {"t": t, "exponent": round(exp, 2)}
        print(f"{name}: {t}  exponent={exp:.2f}", file=sys.stderr)

    # mito_classify scales via its fixture size
    from mitoscape_spark.pipeline import fixtures
    from mitoscape_spark.pipeline.classify import classify
    from mitoscape_spark.pipeline.ld import normalize_ld
    from mitoscape_spark.queries.domain import _fixture_model

    model = _fixture_model(spark)
    t = {}
    for mult, n_reads in ((1, 120), (2, 240), (5, 600), (50, 6000)):
        mt = fixtures.to_spark(spark, fixtures.mt_alignments_pdf(n_reads))
        nt = fixtures.to_spark(spark, fixtures.nt_alignments_pdf(n_reads))
        ld = normalize_ld(
            fixtures.to_spark(spark, fixtures.ld_scores_pdf(3000))
        )
        numts = fixtures.to_spark(spark, fixtures.numts_pdf())

        def run():
            res = classify(mt, nt, ld, numts, model=model, prob=0.5)
            res.survivors.write.format("noop").mode("overwrite").save()
            res.unpersist()

        run()  # warm
        t0 = time.perf_counter()
        run()
        t[mult] = round(time.perf_counter() - t0, 3)
    exp = math.log(t[50] / t[1]) / math.log(50)
    results["mito_classify"] = {"t": t, "exponent": round(exp, 2)}
    print(f"mito_classify: {t}  exponent={exp:.2f}", file=sys.stderr)

    print(json.dumps(results))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
