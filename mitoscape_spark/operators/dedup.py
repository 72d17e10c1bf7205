"""Deduplication operators over document corpora.

Five families, all expressed as Catalyst plans (no Python in any hot
path):

* exact            — hash groupBy / dropDuplicates
* MinHash + LSH    — shingle → k seeded MinHashes → banded bucket join
* SimHash          — per-token hash bits → majority vote → integer hash
* n-gram Jaccard   — inverted-index shingle join → exact set overlap
* embedding cosine — near-duplicate pairs above a cosine threshold

Portability note: hashes are built on ``md5`` (identical hex output in
Spark and DuckDB), so every operator here is oracle-checkable
cross-engine. Taking the *lexicographic* min of md5 hex strings is a
valid MinHash (uniform hash ⇒ uniform order statistics); seeds are
prefixed into the hashed string.

Scale: shingle explosion is a flatMap (no shuffle); signatures are one
hash-agg per (doc, seed); the LSH band join buckets candidates so the
pair space is bands × bucket², never O(n²); the only O(n²)-risk
operator is embedding_near_duplicates' block-nested join, which is why
its blocked (LSH) variant lives in operators.similarity.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mitoscape_spark.pins import pin, pin_eager

from mitoscape_spark.functions.vectors import cosine_similarity

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2
DEFAULT_SHINGLE = 3

_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# estimated driver-process peak above which connected_components takes
# the distributed star rounds instead of the driver union-find finisher
CC_DRIVER_MAX_BYTES = 640 * 1024 * 1024


def _require_integral_id(df: DataFrame, col: str, op: str) -> None:
    """The blocked-GEMM paths block rows by ``pmod(id, n_blocks)`` and
    carry ids through numpy int64 arrays — a non-integral id column
    would previously cast to NULL in the modulo and silently produce an
    EMPTY result (no error). Fail loudly instead."""
    dtype = df.schema[col].dataType
    if not isinstance(dtype, _INTEGRAL_TYPES):
        raise TypeError(
            f"{op} requires an integral id column; {col!r} is "
            f"{dtype.simpleString()}. Derive an int64 id first, e.g. "
            f".withColumn({col!r}, F.xxhash64({col!r})) or "
            "monotonically_increasing_id(), and join the original ids "
            "back onto the output."
        )


def _auto_n_blocks(
    total_bytes: float,
    target_block_bytes: int = 64 << 20,
    lo: int = 4,
    hi: int = 1024,
) -> int:
    """Blocks for the blocked-GEMM paths, sized from data volume.

    Each block ships as ONE Spark row (collect_list), so block size must
    stay well under the 2 GiB array limit and within executor memory no
    matter the corpus size — a fixed default block COUNT breaks at scale
    (VERDICT r1). Target ~64 MB per block: small enough for two blocks
    per task at modest executor sizes, big enough that B²/2 GEMM tasks
    amortize scheduling. Floor of 4 keeps tiny corpora parallel; cap of
    1024 bounds the block-pair explosion (B²/2 ≈ 500k tasks) — corpora
    that exceed it should use the approximate paths in
    operators.similarity instead.
    """
    return max(lo, min(hi, math.ceil(total_bytes / target_block_bytes)))


def _parallelism_blocks(
    spark, est_flops: float, factor: int = 2, hi: int = 64
) -> int:
    """Block count whose B(B+1)/2 GEMM tasks give ~``factor``× the
    cluster's default parallelism — the auto-B floor for corpora that
    are byte-small but FLOP-heavy (bytes-derived B wins as data grows;
    this floor only matters when blocks would otherwise be few and
    huge relative to the core count). Gated on ``est_flops`` (≈
    docs²·dims): when total GEMM work is under ~1 GFLOP the whole job
    finishes in one short wave anyway and extra blocks just add
    shuffle/task overhead (measured a 4.9→6.9 s regression on the
    2k-vector corpus before this gate)."""
    if est_flops < 1e9:
        return 4
    p = max(1, spark.sparkContext.defaultParallelism)
    b = math.ceil((math.sqrt(8.0 * factor * p + 1.0) - 1.0) / 2.0)
    return min(hi, max(4, b))


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact deduplication — distributed hash aggregation on the key
    columns (Catalyst plans partial+final HashAggregate, so the shuffle
    carries unique keys only)."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def tokenize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + toks array<string>: lowercase, whitespace split."""
    return docs.select(
        "doc_id", F.split(F.lower(F.col(text_col)), " ").alias("toks")
    )


def shingles(docs: DataFrame, n: int = DEFAULT_SHINGLE) -> DataFrame:
    """doc_id + exploded n-token shingles (distinct per doc).

    Built with JVM higher-order functions: transform over an index
    sequence — a generate + project, no shuffle.
    """
    from mitoscape_spark.plans import ensure_min_parallelism

    idx_expr = " ".join(
        f"toks[i+{j}]," for j in range(n)
    ).rstrip(",")
    # single-row-group inputs plan the explode+md5 map work as ONE task
    # (PERF.md §23); spreading the rows first is a no-op on real layouts
    return (
        tokenize(ensure_min_parallelism(docs))
        .where(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(0, size(toks)-{n}),"
                        f" i -> concat_ws(' ', {idx_expr}))"
                    )
                )
            ).alias("shingle"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_size: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """(doc_id, seed, minhash): k independent MinHashes per document.

    One shingle explosion feeds all k hashes (seed cross join before
    the hash-agg); the aggregation is a single shuffle keyed on
    (doc_id, seed).
    """
    seeds = F.explode(
        F.array(*[F.lit(i) for i in range(num_hashes)])
    ).alias("seed")
    return (
        shingles(docs, shingle_size)
        .select("doc_id", "shingle", seeds)
        .groupBy("doc_id", "seed")
        .agg(
            F.min(
                F.md5(
                    F.concat_ws("|", F.col("seed").cast("string"), "shingle")
                )
            ).alias("minhash")
        )
    )


def minhash_bands(
    signatures: DataFrame, band_size: int = DEFAULT_BAND_SIZE
) -> DataFrame:
    """(doc_id, band, band_key): LSH band signatures — the persistable
    index state behind both the one-shot and incremental pair paths."""
    return (
        # integer DIV: DuckDB's CAST(x/2 AS INT) rounds while Spark's
        # cast truncates — both sides use explicit integer division
        signatures.withColumn("band", F.expr(f"seed DIV {band_size}"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seed", "minhash"))
                    ),
                    lambda s: s.minhash,
                ),
                ",",
            ).alias("band_key")
        )
    )


def incremental_minhash_pairs(
    corpus_bands: DataFrame,
    new_docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    shingle_size: int = DEFAULT_SHINGLE,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dedup: candidate pairs INVOLVING the new batch
    only, plus the updated band index. Returns ``(pairs, new_bands)``
    where ``pairs`` = exactly ``minhash_candidate_pairs(old ∪ new) −
    minhash_candidate_pairs(old)`` (equality pinned in tests) and the
    caller persists ``corpus_bands ∪ new_bands`` for the next batch.

    This is THE production dedup shape at 100 TB: a daily increment
    must not re-pair the whole corpus. Cost per batch: shingle+hash the
    NEW docs only, then one equi-join of the (small) new band table
    against the persisted corpus band index — Catalyst broadcasts the
    new side, so the corpus index is probed in place, never shuffled.
    Old×old pairs were emitted by earlier batches; new×new pairs come
    from the ordinary self-join on the batch (batch-sized, tiny).
    """
    # (round-11 A/B: pinning new_bands/sized/wsized here LOST —
    # ext_incremental_dedup 1.18→1.33 s and the STREAMING consumer
    # ext_stream_text_dedup 3.7→7.9 s, a per-micro-batch
    # materialization job the incremental contract cannot afford; the
    # corpus-side sized join is also bands-sized, not a reduced form.
    # Left unpinned on evidence.)
    new_bands = minhash_bands(
        minhash_signatures(new_docs, num_hashes, shingle_size), band_size
    )
    cb = corpus_bands
    if max_bucket_size is not None:
        # hot-bucket guard, same contract as minhash_candidate_pairs:
        # a batch doc landing in an over-cap CORPUS bucket (a huge
        # duplicate cluster) links to the bucket's representative only
        # — one row instead of cluster-size rows, connectivity
        # preserved for the downstream components/keep-set
        buckets = corpus_bands.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("_bn"),
            F.min("doc_id").alias("_rep"),
        )
        sized = corpus_bands.join(buckets, ["band", "band_key"])
        cb = sized.where(F.col("_bn") <= max_bucket_size).drop(
            "_bn", "_rep"
        ).unionByName(
            sized.where(F.col("_bn") > max_bucket_size)
            .select("band", "band_key", F.col("_rep").alias("doc_id"))
            .distinct()
        )
    nb, cb = new_bands.alias("nb"), cb.alias("cb")
    cross = (
        cb.join(
            F.broadcast(nb),
            (F.col("cb.band") == F.col("nb.band"))
            & (F.col("cb.band_key") == F.col("nb.band_key"))
            & (F.col("cb.doc_id") != F.col("nb.doc_id")),
        )
        .select(
            F.least("cb.doc_id", "nb.doc_id").alias("doc_a"),
            F.greatest("cb.doc_id", "nb.doc_id").alias("doc_b"),
        )
    )
    a, b = new_bands.alias("a"), new_bands.alias("b")
    within = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )
    if max_bucket_size is not None:
        # batch-internal buckets get the ordinary star treatment via
        # the one-shot path's guard semantics: cap by linking over-cap
        # members to the batch bucket's min id
        wb = new_bands.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("_wn"), F.min("doc_id").alias("_wrep")
        )
        wsized = new_bands.join(wb, ["band", "band_key"])
        small = wsized.where(F.col("_wn") <= max_bucket_size)
        sa, sb = small.alias("a"), small.alias("b")
        within = sa.join(
            sb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        ).unionAll(
            wsized.where(
                (F.col("_wn") > max_bucket_size)
                & (F.col("doc_id") != F.col("_wrep"))
            ).select(
                F.col("_wrep").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
            )
        )
    return cross.unionAll(within).distinct(), new_bands


def minhash_candidate_pairs(
    signatures: DataFrame,
    band_size: int = DEFAULT_BAND_SIZE,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on ALL hashes within any band are
    candidate duplicate pairs (doc_a < doc_b, distinct).

    The band signature join is an equi-join on (band, band_key) — hash
    partitioned, no cross product; *distinct documents* bucket evenly
    because md5 keys are uniform. The skew risk is DUPLICATE-heavy
    corpora: every member of a duplicate cluster lands in the same
    (band, band_key) bucket, and the self-join is quadratic per bucket
    — a 1M-doc duplicate cluster means 5·10¹¹ pairs in one task.

    ``max_bucket_size`` is the scale guard: buckets at or under the cap
    keep exact all-pairs semantics; a bucket OVER the cap emits a star
    (its minimum doc_id paired with every other member, k−1 rows)
    instead of all k(k−1)/2 pairs. The star preserves exactly what the
    downstream consumers use — bucket connectivity (connected
    components / dedup keep-set are unchanged) — while making output
    linear in cluster size. Default ``None`` = uncapped (the oracle
    contract for ext_minhash_pairs is the exact pair set);
    the ext_dedup_near pipeline passes a cap because its keep-set
    provably cannot change.
    """
    # §20 pin (round 11): the band table feeds both self-join sides
    # (and, on the capped path, the bucket-size agg + the sized join)
    # with DIFFERENT projections — ReuseExchange does not fire across
    # them, so the signature+banding lineage re-executed per side
    bands = minhash_bands(signatures, band_size).transform(pin)
    if max_bucket_size is not None:
        # one extra hash-agg keyed like the join: per-bucket size + the
        # star representative (min doc_id)
        buckets = bands.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("_bn"),
            F.min("doc_id").alias("_rep"),
        )
        # §20 pin: sized feeds the small filter (both self-join sides)
        # AND the star branch
        sized = bands.join(buckets, ["band", "band_key"]).transform(pin)
        small = sized.where(F.col("_bn") <= max_bucket_size)
        star = (
            sized.where(
                (F.col("_bn") > max_bucket_size)
                & (F.col("doc_id") != F.col("_rep"))
            )
            .select(
                F.col("_rep").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
            )
        )
        a, b = small.alias("a"), small.alias("b")
        all_pairs = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        return all_pairs.unionAll(star).distinct()
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_size: int = DEFAULT_SHINGLE,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every doc pair sharing ≥1
    shingle (inverted-index join — pairs that share nothing are never
    materialized, which is what makes this feasible at scale).

    Returns (doc_a, doc_b, jaccard) with jaccard ≥ threshold, rounded
    to 6 dp for cross-engine determinism.
    """
    sh = shingles(docs, shingle_size)
    # (round-11 A/B: a §20 pin on sizes LOST 1.14→1.79 s — the plan
    # already serves both endpoint attaches from one ReusedExchange of
    # the size agg; the pin only added a materialization job. Left
    # unpinned on evidence.)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


_HEX = "0123456789abcdef"


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): majority-vote fingerprint of token md5 bits.

    bits ≤ 16 (reads the first 4 hex chars of each token's md5).
    Pure integer arithmetic — portable bit extraction via
    floor(v / 2^k) % 2 so the DuckDB oracle computes bit-identically.
    """
    assert bits <= 16
    toks = tokenize(docs).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    bit_ids = F.explode(
        F.array(*[F.lit(i) for i in range(bits)])
    ).alias("b")
    per_bit = (
        toks.withColumn(
            "hval",
            F.expr(
                f"instr('{_HEX}', substring(md5(tok), 1, 1)) - 1"
            )
            * 4096
            + F.expr(f"instr('{_HEX}', substring(md5(tok), 2, 1)) - 1")
            * 256
            + F.expr(f"instr('{_HEX}', substring(md5(tok), 3, 1)) - 1")
            * 16
            + F.expr(f"instr('{_HEX}', substring(md5(tok), 4, 1)) - 1"),
        )
        .select("doc_id", "hval", bit_ids)
        .withColumn(
            "contrib",
            (
                F.expr("CAST(FLOOR(hval / POW(2, b)) AS INT) % 2") * 2 - 1
            ),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("contrib").alias("vote"))
    )
    return (
        per_bit.withColumn(
            "bitval",
            F.when(F.col("vote") > 0, F.expr("CAST(POW(2, b) AS BIGINT)")).otherwise(
                F.lit(0)
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("bitval").alias("simhash"))
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    target_block_bytes: int = 64 << 20,
) -> DataFrame:
    """(id_a, id_b, cos) for ALL pairs with cosine ≥ threshold — exact.

    Blocked filter-and-verify, not a naive self-join. The naive form
    (join on id_a < id_b, then per-pair dot product) materializes both
    64-float vectors into every joined row — O(n²·d) bytes through the
    join (measured 166 s at a mere 10k vectors; DOA at scale). Instead:

    1. pack vectors into ``n_blocks`` block matrices (one shuffle of the
       raw vectors, each block row ~(n/B)·d floats);
    2. cross-join the ~B²/2 block-pair rows and run one numpy GEMM per
       pair inside ``mapInPandas`` — BLAS does n²·d flops without
       materializing n² rows; only indices above ``threshold − margin``
       leave the task;
    3. exact re-score of the few candidates with the same sequential
       JVM fold the oracle semantics pin (GEMM float error ≪ margin, so
       step 2 loses no true pair).

    Scale: work is B²/2 independent GEMM tasks; memory per task = two
    blocks. ``n_blocks=None`` (default) derives B from the corpus so
    each block stays ~``target_block_bytes`` (64 MB default) regardless
    of corpus size (one cheap count+dim job); pass an explicit B to
    skip that job, or shrink ``target_block_bytes`` for tighter
    executor memory budgets (the opt-in scale-sweep stress drives this
    at a 10× corpus). For billion-vector corpora switch to the LSH/IVF
    approximate paths in operators.similarity.

    Ids must be integral (they block by ``pmod(id, B)`` and ride numpy
    int64 arrays) — non-integral ids raise instead of silently matching
    nothing.
    """
    _require_integral_id(embeddings, id_col, "embedding_near_duplicates")
    margin = 1e-3
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull())
    # the NULL-vector filter above is load-bearing, not cosmetic:
    # collect_list SKIPS nulls, so a null vector would desynchronize
    # the packed ids/vecs lists and silently attribute every later
    # vector in the block to the WRONG id (null vectors can match
    # nothing anyway)
    if n_blocks is None:
        stats = e.agg(
            F.count(F.lit(1)).alias("n"), F.max(F.size("v")).alias("d")
        ).first()
        n_blocks = max(
            _auto_n_blocks(
                (stats["n"] or 0) * (stats["d"] or 0) * 8,
                target_block_bytes=target_block_bytes,
            ),
            _parallelism_blocks(
                embeddings.sparkSession,
                float(stats["n"] or 0) ** 2 * (stats["d"] or 0),
            ),
        )
    packed = (
        e.withColumn(
            "block", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int")
        )
        .groupBy("block")
        .agg(
            F.collect_list("id").alias("ids"),
            F.collect_list("v").alias("vecs"),
        )
    )
    a = packed.select(
        F.col("block").alias("block_a"),
        F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    b = packed.select(
        F.col("block").alias("block_b"),
        F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    # explicit repartition: keep the B²/2 GEMM tasks spread across the
    # cluster — AQE's byte-based coalescing would fold the small packed
    # aggregate (and so the join output) into one partition and run
    # the GEMM stage serially (PERF.md §13; same guard as the sparse
    # path below)
    sc = embeddings.sparkSession.sparkContext
    n_tasks = max(1, min(n_blocks * (n_blocks + 1) // 2,
                         2 * sc.defaultParallelism))
    block_pairs = a.join(b, F.col("block_a") <= F.col("block_b")).repartition(
        n_tasks
    )
    cut = threshold - margin

    def gemm_candidates(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b = [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                ma = np.array([np.asarray(x) for x in row.vecs_a])
                mb = np.array([np.asarray(x) for x in row.vecs_b])
                # floor norms (knn_classify convention): a zero-norm
                # vector otherwise yields NaN cosines — with a positive
                # threshold NaN >= cut is False so pairs were silently
                # excluded (right answer, wrong mechanism: numpy
                # invalid-divide warnings, and cut <= 0 would misbehave)
                na = np.maximum(np.linalg.norm(ma, axis=1), 1e-12)
                nb = np.maximum(np.linalg.norm(mb, axis=1), 1e-12)
                cos = (ma @ mb.T) / np.outer(na, nb)
                ia, ib = np.nonzero(cos >= cut)
                lhs, rhs = ids_a[ia], ids_b[ib]
                if row.block_a == row.block_b:
                    # same block on both sides: the matrix holds (x,y)
                    # AND (y,x) — keep one orientation
                    keep = lhs < rhs
                    lhs, rhs = lhs[keep], rhs[keep]
                else:
                    # disjoint blocks: each unordered pair appears once,
                    # in whichever orientation — canonicalize to min,max
                    lo = np.minimum(lhs, rhs)
                    hi = np.maximum(lhs, rhs)
                    lhs, rhs = lo, hi
                out_a.append(lhs)
                out_b.append(rhs)
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else [],
                    "id_b": np.concatenate(out_b) if out_b else [],
                }
            )

    candidates = block_pairs.mapInPandas(
        gemm_candidates, schema="id_a long, id_b long"
    )
    ea = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    eb = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        candidates.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity("va", "vb"), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def incremental_embedding_pairs(
    corpus: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    target_block_bytes: int = 64 << 20,
) -> DataFrame:
    """(id_a, id_b, cos): cosine pairs ≥ threshold INVOLVING the new
    batch only — the embedding twin of ``incremental_minhash_pairs``
    (a daily embedding increment must not re-GEMM the whole corpus).
    Exactly ``embedding_near_duplicates(corpus ∪ new) −
    embedding_near_duplicates(corpus)`` (equality pinned in tests).

    Cost per batch: the NEW side packs into batch blocks and meets
    every CORPUS block once (B_corpus × B_new GEMM tasks — linear in
    corpus size, not quadratic), plus one ordinary new×new pass
    (batch-sized). Same margin-filter + JVM re-score contract as
    ``embedding_near_duplicates``; corpus×corpus pairs were emitted by
    earlier batches and are never recomputed.
    """
    _require_integral_id(corpus, id_col, "incremental_embedding_pairs")
    margin = 1e-3
    e_c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull())
    e_n = new_docs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull())
    def _blocks_for(df) -> int:
        stats = df.agg(
            F.count(F.lit(1)).alias("n"), F.max(F.size("v")).alias("d")
        ).first()
        return _auto_n_blocks(
            (stats["n"] or 0) * (stats["d"] or 0) * 8,
            target_block_bytes=target_block_bytes,
        )

    # each side sizes its OWN blocks: packing a small daily batch into
    # the corpus-derived count would fragment it into up to B_corpus
    # near-empty blocks and replicate every corpus block once per
    # fragment through the cross join — corpus_bytes × B_corpus of
    # shuffle instead of the documented linear cost (round-4 review
    # finding). A typical batch packs into the floor of 4 blocks, so
    # corpus replication stays ~4×.
    n_blocks_c = n_blocks if n_blocks is not None else _blocks_for(e_c)
    n_blocks_n = n_blocks if n_blocks is not None else _blocks_for(e_n)

    def pack(df, prefix, nb):
        return (
            df.withColumn(
                "block", F.pmod(F.col("id"), F.lit(nb)).cast("int")
            )
            .groupBy("block")
            .agg(
                F.collect_list("id").alias(f"ids_{prefix}"),
                F.collect_list("v").alias(f"vecs_{prefix}"),
            )
            .withColumnRenamed("block", f"block_{prefix}")
        )

    sc = corpus.sparkSession.sparkContext
    n_tasks = max(
        1, min(n_blocks_c * n_blocks_n, 2 * sc.defaultParallelism)
    )
    cross = (
        pack(e_c, "a", n_blocks_c)
        .join(pack(e_n, "b", n_blocks_n), F.lit(True))
        .repartition(n_tasks)
    )
    cut = threshold - margin

    def gemm_candidates(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b = [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                ma = np.array([np.asarray(x) for x in row.vecs_a])
                mb = np.array([np.asarray(x) for x in row.vecs_b])
                na = np.maximum(np.linalg.norm(ma, axis=1), 1e-12)
                nb = np.maximum(np.linalg.norm(mb, axis=1), 1e-12)
                cos = (ma / na[:, None]) @ (mb / nb[:, None]).T
                ia, ib = np.nonzero(cos >= cut)
                lhs, rhs = ids_a[ia], ids_b[ib]
                # a doc present in BOTH tables (re-fed) must not
                # self-pair
                keep = lhs != rhs
                out_a.append(np.minimum(lhs, rhs)[keep])
                out_b.append(np.maximum(lhs, rhs)[keep])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else
                    np.empty(0, dtype=np.int64),
                    "id_b": np.concatenate(out_b) if out_b else
                    np.empty(0, dtype=np.int64),
                }
            )

    cross_cand = cross.mapInPandas(
        gemm_candidates, schema="id_a long, id_b long"
    )
    within = embedding_near_duplicates(
        new_docs, threshold, id_col, vec_col,
        target_block_bytes=target_block_bytes,
    ).select("id_a", "id_b")
    # re-fed id with a CHANGED vector: the final-cosine lookup must
    # deterministically use the NEW-batch copy, not whichever of the
    # corpus/batch rows dropDuplicates happens to keep — batch vectors
    # take priority, corpus rows fill in only ids absent from the batch
    both = e_n.unionByName(
        e_c.join(e_n.select("id"), "id", "left_anti")
    )
    va = both.select(F.col("id").alias("id_a"), F.col("v").alias("_va"))
    vb = both.select(F.col("id").alias("id_b"), F.col("v").alias("_vb"))
    # delta semantics (same contract as incremental_minhash_pairs): a
    # pair whose BOTH endpoints already sit in the corpus was emitted
    # by an earlier batch — re-fed docs must not resurrect it
    cid = e_c.select("id").distinct()
    flag_a = cid.select(F.col("id").alias("id_a"), F.lit(True).alias("_ca"))
    flag_b = cid.select(F.col("id").alias("id_b"), F.lit(True).alias("_cb"))
    return (
        cross_cand.unionByName(within)
        .distinct()
        .join(flag_a, "id_a", "left")
        .join(flag_b, "id_b", "left")
        .where(~(F.col("_ca").isNotNull() & F.col("_cb").isNotNull()))
        .drop("_ca", "_cb")
        # the priority union above guarantees one row per id — no
        # dropDuplicates here (an arbitrary-pick dedup at this spot is
        # exactly what made re-fed changed vectors nondeterministic)
        .join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity("_va", "_vb"), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def _driver_union_find_labels(edges: DataFrame) -> DataFrame:
    """Bounded SMALL-GRAPH finisher for ``connected_components``: label
    a collected edge set with union-find on the driver, returning the
    same (id, component-min) contract as the distributed star rounds.

    Why this exists (round-8 verdict item 2 / PERF.md §23): the star
    rounds cost a per-round driver/AQE scheduling floor (~0.5 s × ~11
    rounds) that dominates wall-clock on graphs any single node solves
    in milliseconds — ~70% of ext_multimodal_dedup / entity_resolution
    / triangle steady-state wall. The caller gates on the ALREADY
    NEEDED distinct edge count, so driver memory is bounded explicitly
    (the same hybrid class as minhash's ``max_bucket_size`` hot-bucket
    guard); above the threshold the distributed path runs unchanged.

    Labels are the component MINIMUM (ints numerically; strings by
    ordinary comparison — ASCII-safe, matching Spark's binary UTF8
    ordering for the id domains used here), identical to the star
    fixpoint's labeling.
    """
    spark = edges.sparkSession
    id_type = edges.schema["u"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type, True),
            T.StructField("component", id_type, True),
        ]
    )
    pdf = edges.toPandas()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    # .tolist() converts numpy scalars to Python ints/strs —
    # createDataFrame rejects numpy types in plain tuples
    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN root: the root IS the component minimum, so
            # no second min-per-root pass is needed
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    if not parent:
        return spark.createDataFrame([], out_schema)
    import pandas as pd

    # pandas + Arrow ingestion: at the 2M-edge bound a plain
    # list-of-tuples createDataFrame pays per-row Python serialization
    # (tens of seconds); the Arrow path ships two columnar buffers
    out_pdf = pd.DataFrame(
        {
            "id": list(parent.keys()),
            "component": [find(x) for x in parent],
        }
    )
    return spark.createDataFrame(out_pdf, schema=out_schema)


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 30,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    driver_finish_max_edges: int = 2_000_000,
    n_edges: int | None = None,
) -> DataFrame:
    """(id, component): connected components over candidate-pair edges —
    the step that turns near-dup PAIRS into dedup GROUPS. Alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): converges in O(log n) rounds regardless of
    component DIAMETER, unlike min-label propagation whose round count
    grows with the longest chain (a 1500-link transitive near-dup
    chain needs 1500 propagation rounds but ~11 star rounds — the
    difference between a job and a hang at 100 TB).

    Each round is two grouped min-aggregations + joins on node id (no
    driver-side edge materialization); the per-round edge set is
    localCheckpoint-ed — iterative plans MUST truncate lineage, or the
    logical plan (and Catalyst analysis time) grows with every round
    even when execution is cached (measured: un-truncated rounds turn
    an 11-round chain into minutes of pure planning). Convergence is
    an edge-set checksum (count + hash sum — two scalars); raises if
    the round budget is exhausted rather than returning silently-wrong
    labels. Cluster note: localCheckpoint trades executor-loss
    recovery for speed; flip the engine-wide pin knob
    (``spark.mitoscape.pin.mode=reliable`` + a checkpoint dir — see
    ``mitoscape_spark.pins`` and SCALE.md) where jobs outlive
    executors.

    Small graphs take a BOUNDED driver finisher instead (round-9,
    verdict item 2): when the distinct'd edge set is at most
    ``driver_finish_max_edges`` rows AND its estimated PYTHON-PROCESS
    peak (~300 B/edge for integral ids — measured, see below; octet
    length × 4 plus the same 300 B/edge object overhead for strings)
    is under ``CC_DRIVER_MAX_BYTES`` (640 MiB) — both read from one
    aggregate job that also materializes the checkpoint the loop
    needed anyway — the edges
    collect to the driver and union-find labels them in milliseconds,
    skipping ~11 star rounds of pure per-round scheduling floor (~70%
    of wall on toy graphs, PERF.md §23). The byte estimate models the
    DRIVER PROCESS footprint, not the Arrow wire size (round-9 advice
    item 1): the 16 B/edge Arrow transfer balloons to boxed-int lists
    plus a ~2-nodes/edge union-find ``parent`` dict — measured peak
    RSS delta 565 MB for a 2M-edge integral run (~300 B/edge), which
    is what the 640 MiB budget and the 2M default row bound are sized
    to. Pass ``driver_finish_max_edges=0`` to force the distributed
    path. At 100 TB the candidate-pair graph exceeds any sane bound
    and the star-contraction path runs unchanged — this is the same
    hybrid class as ``minhash_candidate_pairs``'s ``max_bucket_size``
    guard, not a scale compromise.

    ``connected_components_propagation`` below keeps the simple
    min-label variant for comparison/tests.

    ``n_edges`` (round 12 — VERDICT r11 item 3): a caller-certified
    count of the DISTINCT, self-loop-free edge set, for callers that
    already paid an aggregation over the pair set (multimodal report:
    the union-pair count action). When given and the ids are integral,
    the gate decision is pure driver arithmetic (~300 B/edge) and the
    probe job is skipped — one serial action less on the query floor.
    String ids still probe (the byte model needs the character data).
    A wrong hint risks only memory-sizing, not correctness: both paths
    label identically.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        # pin the INPUT edge set too: round 1's plan embeds `edges`
        # several times (sym union + the star joins), so an expensive
        # upstream pair lineage (MinHash banding ~3 s at sf0.1) would
        # otherwise re-execute per occurrence; the materialization is
        # edge-set-sized, the same bound the per-round checkpoint
        # already accepts (round-7, measured on ext_leakage_safe_split)
        .transform(pin)
    )
    if driver_finish_max_edges > 0:
        # one aggregate job; it materializes the checkpoint that
        # round 1 would have materialized anyway, so the distributed
        # path pays no extra pass for the probe. The gate is BYTE-aware
        # as well as row-aware, and the byte model is the PYTHON
        # PROCESS peak, not the Arrow wire size (round-9 advice
        # item 1): an integral edge ships 16 B over Arrow but costs
        # ~300 B once it lives as tolist()-boxed ints plus up to two
        # union-find dict entries (measured: 565 MB peak RSS delta at
        # 2M edges). Strings add their character data ×4 (str object
        # + pandas object array + dict key) on top of the same
        # per-edge overhead — row count alone would route a 2M-edge
        # 40-char-string set into a multi-GB driver.
        integral = isinstance(
            edges.schema["u"].dataType, _INTEGRAL_TYPES
        ) and isinstance(edges.schema["v"].dataType, _INTEGRAL_TYPES)
        if n_edges is not None and integral:
            if (
                n_edges <= driver_finish_max_edges
                and n_edges * 300 <= CC_DRIVER_MAX_BYTES
            ):
                return _driver_union_find_labels(edges)
            # certified too big: fall through to the star rounds with
            # no probe; the loop's first signature action materializes
            # the edge pin exactly as the probe would have
        else:
            # no hint (or string ids, whose byte model needs the
            # character data): one probe job, which also materializes
            # the checkpoint round 1 needed anyway
            per_edge_overhead = F.count(F.lit(1)) * F.lit(300)
            payload = (
                per_edge_overhead
                if integral
                else per_edge_overhead
                + F.coalesce(
                    F.sum(
                        (F.octet_length(F.col("u").cast("string"))
                         + F.octet_length(F.col("v").cast("string")))
                        * F.lit(4)
                    ),
                    F.lit(0),
                )
            )
            probe = edges.agg(
                F.count(F.lit(1)).alias("n"), payload.alias("b")
            ).first()
            if (
                probe["n"] <= driver_finish_max_edges
                and probe["b"] <= CC_DRIVER_MAX_BYTES
            ):
                return _driver_union_find_labels(edges)
    prev_sig: tuple | None = None
    for _ in range(max_iterations):
        # ---- large-star: every neighbor larger than u links to the
        # minimum of u's closed neighborhood
        sym = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            # no distinct here: the reorientation right below dedups —
            # two adjacent hash-aggregate exchanges carried the same
            # rows twice (round 8; one fewer Exchange + AQE stage per
            # round, and each star round is scheduling-floor-bound on
            # moderate graphs)
        )
        # ---- small-star: orient (big, small); everything in the
        # group links to the minimum. This distinct is the ROUND's
        # dedup point: in a k-clique every member receives the same
        # (v, min) from ~k neighbors — partial aggregation compacts the
        # k× duplication map-side before the wire.
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        small_min = oriented.groupBy("u").agg(F.min("v").alias("m"))
        joined = oriented.join(small_min, "u")
        edges_new = (
            joined.where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(small_min.select("u", F.col("m").alias("v")))
            .distinct()
            # lazy: the signature agg right below is the first action,
            # so ONE job per round materializes checkpoint + signature
            # (eager=True ran a separate materialization job per round
            # — pure fixed overhead on small graphs)
            .transform(pin)
        )
        sig_row = edges_new.agg(
            F.count(F.lit(1)).alias("n"),
            # pmod keeps the sum far from long overflow (ANSI mode
            # would throw on it); collision odds are a non-issue for
            # fixpoint detection
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))).alias(
                "h"
            ),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        edges = edges_new
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iterations} "
            "star rounds (needs ~log2(n); raise max_iterations)"
        )
    # final state is a star forest: every row is (node, component-min);
    # roots label themselves
    node_labels = edges.groupBy(F.col("u").alias("id")).agg(
        F.min("v").alias("component")
    )
    roots = (
        edges.select(F.col("v").alias("id"))
        .distinct()
        .join(node_labels, "id", "left_anti")
        .withColumn("component", F.col("id"))
    )
    return node_labels.unionAll(roots)


def connected_components_propagation(
    pairs: DataFrame,
    max_iterations: int = 20,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Min-label propagation variant: every node repeatedly adopts the
    smallest id reachable over one hop until a fixpoint (checked with a
    distributed count, no driver-side collect of the edge set).

    Rounds grow with component *diameter* — fine for shallow near-dup
    clusters (2-3 rounds), pathological for long chains; the star
    variant above is the default for that reason. Labels are
    localCheckpoint-ed per round (same lineage-truncation requirement
    as the star variant — plans of iterative algorithms grow per round
    otherwise, and Catalyst analysis time with them).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # undirected: both directions + self-loops seed each node's label
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
        ).transform(pin_eager)
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "id")
            .where(F.col("u.component") != F.col("l.component"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            break
    else:
        # same contract as the star variant: silently-wrong labels
        # (one true component split in several) are worse than an error
        raise RuntimeError(
            "connected_components_propagation did not converge in "
            f"{max_iterations} rounds (component diameter exceeds the "
            "budget); raise max_iterations or use connected_components "
            "(log-rounds star variant)"
        )
    return labels


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop near-duplicates: for every connected component of candidate
    pairs keep only the smallest id (the canonical doc); docs in no
    pair survive untouched. Anti-join keeps the corpus side streaming —
    only the (small) duplicate-id set shuffles."""
    components = connected_components(pairs)
    losers = components.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, on=id_col, how="left_anti")


def sparse_near_duplicates(
    postings: DataFrame,
    n_dims: int,
    threshold: float,
    id_col: str = "id",
    idx_col: str = "idx",
    w_col: str = "w",
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine-threshold pairs over SPARSE vectors given as
    (id, dimension index, weight) postings — the high-dimensional twin
    of ``embedding_near_duplicates``.

    Why a separate path: packing 4096-dim DENSE arrays JVM-side costs
    nnz × bloat in heap (boxed doubles; measured an executor OOM at a
    mere 6k docs), while the postings stay nnz-proportional. Blocks
    ship as triplet lists; densification to block matrices happens
    inside the Python worker (numpy buffers, no JVM boxing), then the
    same GEMM → margin filter → candidate emission. Skips the exact
    re-verify of the dense path: float64 GEMM agrees with a sequential
    fold to ~1e-15, and sparse callers (TF-IDF) hold no bit-exactness
    oracle contract.

    Vectors are L2-normalized here, so ``threshold`` is plain cosine.

    ``n_blocks=None`` derives B from the postings so both the shipped
    triplet block (~24 B/posting) and the densified per-block matrix
    ((docs/B) × n_dims doubles) stay ~64 MB as the corpus grows. Ids
    must be integral (see embedding_near_duplicates).

    Round 12 (guide §3/§2.3) — two EXACT prunes, active when the
    effective cut ``threshold - margin`` is positive (a non-positive
    cut accepts disjoint-support pairs, so everything below degrades to
    the plain all-pairs GEMM):

    - **max-component bound**: for any vectors, dot(a, b) ≤
      Σ|aᵢ||bᵢ| ≤ min(‖a‖₁·max|b|, max|a|·‖b‖₁). Per block the packed
      aggregate carries max-over-docs ‖·‖₁ and max|·| of the
      normalized vectors, and the block-pair join condition drops
      whole block pairs whose bound cannot reach the cut (plan-visible
      prune — at scale it skips shipping both 64 MB blocks). Inside a
      surviving task the same bound per DOC (recomputed from the
      shipped triplets, nothing extra on the wire) drops rows/columns
      of the GEMM that cannot reach the cut against ANY counterpart.
      No false negatives: the bound is an upper bound on the dot, so a
      pruned pair provably sits below the cut.
    - **shared-support compaction**: a feature column zero in either
      block contributes exactly 0.0 to every cross dot (x + 0.0 == x
      in IEEE), so each task densifies onto the INTERSECTION of the
      two blocks' present feature sets instead of all ``n_dims``
      columns. Same dots, fewer multiply-adds — measured 132× fewer
      flops at sf0.1 TF-IDF, where 31 of 4096 hashed features occur.
      (BLAS accumulation grouping varies with the K dimension, so
      results can move by ulps — inside the margin by construction,
      and sparse callers hold no bit-exactness contract.)
    """
    _require_integral_id(postings, id_col, "sparse_near_duplicates")
    # postings feeds the block-count stats, the norm agg, AND the
    # normalized projection — for callers whose postings lineage is
    # expensive (TF-IDF: a fitted-pipeline transform + posexplode) the
    # re-evaluations dominate; materialize once
    postings = postings.transform(pin)
    if n_blocks is None:
        stats = postings.agg(
            F.count(F.lit(1)).alias("nnz"),
            F.approx_count_distinct(id_col).alias("docs"),
        ).first()
        nnz, docs = stats["nnz"] or 0, stats["docs"] or 0
        n_blocks = max(
            _auto_n_blocks(nnz * 24),          # shipped triplets
            _auto_n_blocks(docs * n_dims * 8), # densified block matrix
            # parallelism floor: B(B+1)/2 GEMM tasks should cover the
            # cluster even when the corpus is byte-small but flop-heavy
            # (B=4 → 10 tasks leaves a 32-core machine 2/3 idle;
            # measured 14 s → 9 s at sf0.1 TF-IDF from this alone)
            _parallelism_blocks(
                postings.sparkSession, float(docs) * docs * n_dims
            ),
        )
    margin = 1e-6
    cut = threshold - margin
    norm = postings.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col(w_col) * F.col(w_col))).alias("_n"),
        F.sum(F.abs(F.col(w_col))).alias("_l1r"),
        F.max(F.abs(F.col(w_col))).alias("_mxr"),
    ).where(F.col("_n") > 0)
    # zero-norm docs (all-zero weights) are dropped via the inner
    # join below rather than divided by: under ANSI mode (session
    # default) w/0 ABORTS the job, and a zero vector has cosine 0
    # to everything regardless
    p = (
        postings.join(norm, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(idx_col).alias("idx"),
            (F.col(w_col) / F.col("_n")).alias("w"),
            # per-doc bound ingredients of the NORMALIZED vector;
            # constant per doc, so the per-block MAX below reads them
            # off the posting rows without a second per-doc aggregation
            (F.col("_l1r") / F.col("_n")).alias("_l1"),
            (F.col("_mxr") / F.col("_n")).alias("_mx"),
            F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("block"),
        )
    )
    # both sides of the block cross-join consume `packed`; the
    # max-over-docs bound scalars ride the same grouped aggregation
    packed = p.groupBy("block").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("idx").alias("idxs"),
        F.collect_list("w").alias("ws"),
        F.max("_l1").alias("_l1max"),
        F.max("_mx").alias("_mxmax"),
    ).transform(pin)
    a = packed.select(
        F.col("block").alias("block_a"),
        F.col("ids").alias("ids_a"),
        F.col("idxs").alias("idxs_a"),
        F.col("ws").alias("ws_a"),
        F.col("_l1max").alias("_l1max_a"),
        F.col("_mxmax").alias("_mxmax_a"),
    )
    b = packed.select(
        F.col("block").alias("block_b"),
        F.col("ids").alias("ids_b"),
        F.col("idxs").alias("idxs_b"),
        F.col("ws").alias("ws_b"),
        F.col("_l1max").alias("_l1max_b"),
        F.col("_mxmax").alias("_mxmax_b"),
    )
    # explicit repartition = exempt from AQE byte-based coalescing: the
    # packed aggregate is a few KB-per-row table, so AQE merges it (and
    # therefore the join output) into ONE partition and the whole GEMM
    # stage runs serially — the exact row-exploding-consumer hazard
    # PERF.md §13 documents for fuzzy.py (measured here: 14 s → 4 s at
    # sf0.1 TF-IDF). Task count targets the cluster's parallelism,
    # bounded by the number of block pairs.
    sc = postings.sparkSession.sparkContext
    n_tasks = max(1, min(n_blocks * (n_blocks + 1) // 2,
                         2 * sc.defaultParallelism))
    pair_cond = F.col("block_a") <= F.col("block_b")
    if cut > 0:
        # block-level max-component bound (see docstring): a block pair
        # whose best-case dot cannot reach the cut is dropped in the
        # join itself — before either block's payload ships
        pair_cond = pair_cond & (
            F.least(
                F.col("_l1max_a") * F.col("_mxmax_b"),
                F.col("_mxmax_a") * F.col("_l1max_b"),
            )
            >= F.lit(cut)
        )
    block_pairs = a.join(b, pair_cond).repartition(n_tasks)

    def densify(idsq, idxs, ws, rows, cols):
        """Dense (docs × |cols|) matrix over the shared-support columns
        only; postings outside ``cols`` contribute exact zeros to every
        cross dot and are dropped. ``cols=None`` densifies all n_dims
        (the pre-round-12 shape, kept for non-positive cuts)."""
        import numpy as np

        idxs = np.asarray(idxs, dtype=np.int64)
        ws = np.asarray(ws)
        if cols is None:
            m = np.zeros((len(idsq), n_dims))
            m[rows, idxs] = ws
            return m
        pos = np.searchsorted(cols, idxs)
        pos_c = np.minimum(pos, len(cols) - 1)
        keep = cols[pos_c] == idxs
        m = np.zeros((len(idsq), len(cols)))
        m[rows[keep], pos_c[keep]] = ws[keep]
        return m

    def doc_bounds(n_rows, rows, ws):
        """Per-doc ‖·‖₁ and max|·| of the (already normalized) shipped
        triplets — the doc-level ingredients of the same bound the join
        applied at block level."""
        import numpy as np

        aw = np.abs(np.asarray(ws))
        l1 = np.zeros(n_rows)
        np.add.at(l1, rows, aw)
        mx = np.zeros(n_rows)
        np.maximum.at(mx, rows, aw)
        return l1, mx

    def gemm(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                uniq_a, rows_a = np.unique(ids_a, return_inverse=True)
                uniq_b, rows_b = np.unique(ids_b, return_inverse=True)
                if cut > 0:
                    # shared-support compaction: only features present
                    # on BOTH sides can contribute to a dot
                    cols = np.intersect1d(
                        np.unique(np.asarray(row.idxs_a, dtype=np.int64)),
                        np.unique(np.asarray(row.idxs_b, dtype=np.int64)),
                    )
                    if cols.size == 0:
                        continue  # all dots are exactly 0 < cut
                else:
                    cols = None
                ma = densify(uniq_a, row.idxs_a, row.ws_a, rows_a, cols)
                mb = densify(uniq_b, row.idxs_b, row.ws_b, rows_b, cols)
                if cut > 0:
                    # doc-level bound: drop rows/cols that cannot reach
                    # the cut against ANY counterpart (exact — bound is
                    # an upper bound on every dot involving that doc)
                    l1_a, mx_a = doc_bounds(len(uniq_a), rows_a, row.ws_a)
                    l1_b, mx_b = doc_bounds(len(uniq_b), rows_b, row.ws_b)
                    ka = np.minimum(
                        l1_a * mx_b.max(initial=0.0),
                        mx_a * l1_b.max(initial=0.0),
                    ) >= cut
                    kb = np.minimum(
                        l1_b * mx_a.max(initial=0.0),
                        mx_b * l1_a.max(initial=0.0),
                    ) >= cut
                    if not (ka.any() and kb.any()):
                        continue
                    uniq_a, ma = uniq_a[ka], ma[ka]
                    uniq_b, mb = uniq_b[kb], mb[kb]
                cos = ma @ mb.T
                ia, ib = np.nonzero(cos >= cut)
                lhs, rhs, c = uniq_a[ia], uniq_b[ib], cos[ia, ib]
                if row.block_a == row.block_b:
                    keep = lhs < rhs
                    lhs, rhs, c = lhs[keep], rhs[keep], c[keep]
                else:
                    lo = np.minimum(lhs, rhs)
                    hi = np.maximum(lhs, rhs)
                    lhs, rhs = lo, hi
                out_a.append(lhs)
                out_b.append(rhs)
                out_c.append(c)
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else [],
                    "id_b": np.concatenate(out_b) if out_b else [],
                    "cos": np.concatenate(out_c) if out_c else [],
                }
            )

    return (
        block_pairs.mapInPandas(gemm, schema="id_a long, id_b long, cos double")
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.col("cos").alias("cos"))
    )


def _shingle_id_tables(docs: DataFrame, shingle_size: int):
    """Shared frozen shingle→long-id dictionary pipeline for the
    prefix-filtered set-similarity paths (Jaccard + containment):
    returns ``(shs, ordered, sets)`` where shs = (doc_id, _sid,
    _df) postings, ordered adds the rare-first ``_pos`` AND the per-doc
    set size ``n``, sets = per-doc sorted ``_sid`` arrays.

    The dictionary assigns ids with ``monotonically_increasing_id`` —
    nondeterministic across recomputation — so the freq table is
    checkpointed EAGERLY: a lazy checkpoint only freezes ids once some
    action registers the blocks, and on a multi-executor cluster the
    first job's concurrent stages could each recompute a freq
    partition and observe DIVERGENT shingle→id mappings (an equi-join
    key that differs between branches silently drops pairs). The
    eager materialization is one tiny job over the distinct-shingle
    table and removes the race outright; the downstream tables are
    pure functions of the frozen dictionary and stay lazy.

    Round-11 layout (guide §2.4 — share one exchange): the set size
    rides the SAME doc_id window exchange that assigns ``_pos``
    (a count over the unordered partition frame), and ``sets`` is
    aggregated FROM ``ordered``, whose window output is already
    hash-partitioned on doc_id — so the old separate ``sizes``
    aggregation, its joins back onto the postings, and the separate
    ``sets`` exchange disappear. Measured at sf0.1: ext_containment's
    plan drops 8 → 6 exchanges; wall-clock is a wash at this scale
    (interleaved A/B 2.5 s both — the removed shuffles carried only
    ~250k-row postings), so this is a shuffle-count change for the
    100 TB shape, where every removed postings exchange is a full
    corpus-shingle pass over the wire. Output identical
    (prefix-vs-full-index equivalence tests + oracle hash).
    """
    from pyspark.sql import Window

    # the shingle explosion feeds several consumers — materialize once
    # instead of re-tokenizing per consumer
    sh = shingles(docs, shingle_size).transform(pin)
    freq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .withColumn("_sid", F.monotonically_increasing_id())
        .transform(pin_eager)  # freeze ids BEFORE consumers fork
    )
    shs = (
        sh.join(freq, "shingle")
        .select("doc_id", "_sid", "_df")
        .transform(pin)
    )
    by_doc = Window.partitionBy("doc_id")
    ordered = (
        shs.withColumn(
            "_pos", F.row_number().over(by_doc.orderBy("_df", "_sid"))
        )
        .withColumn("n", F.count(F.lit(1)).over(by_doc))
        # consumed by the prefix filter AND (containment) the full
        # postings side — pin so the window pass runs once (§20)
        .transform(pin)
    )
    # sets feed two join branches (doc_a side, doc_b side); grouping
    # ordered's window output reuses its doc_id partitioning — no
    # extra exchange (max(_pos) == the per-doc count)
    sets = ordered.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("_sid")).alias("sh_set"),
        F.max("_pos").alias("n"),
    ).transform(pin)
    return shs, ordered, sets


def _prefix_len(threshold: float):
    """Sound prefix length ``n − ceil(t·n) + 1`` as a column over
    ``n``. Epsilon-nudge before ceil: 0.07·100 is 7.000000000000001
    in doubles, and an overshot ceil SHORTENS the prefix below the
    sound bound (threshold-boundary pairs silently missed)."""
    return (
        F.col("n")
        - F.ceil(F.lit(float(threshold)) * F.col("n") - F.lit(1e-9))
        + 1
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    shingle_size: int = DEFAULT_SHINGLE,
    threshold: float = 0.1,
) -> DataFrame:
    """``ngram_jaccard_pairs`` with POSITIONAL PREFIX FILTERING
    (the PPJoin family's candidate-pruning principle) — the posting
    volume lever for 100 TB set-similarity joins.

    Prefix principle: order every document's shingles by one global
    total order (ascending document frequency, shingle tiebreak). Two
    sets with Jaccard ≥ t MUST share an element within their first
    ``n - ceil(t·n) + 1`` shingles — so only those prefixes are posted
    to the inverted index. Rare-first ordering makes prefixes
    low-frequency by construction: candidate buckets stay small where
    a full index would hot-spot on stopword shingles.

    Verification never re-joins the full postings: candidate pairs
    fetch both documents' (bounded, per-doc) sorted shingle-ID arrays
    and intersect them JVM-side. Exactness for any threshold > 0 is
    guaranteed by the prefix principle and pinned by an equivalence
    test against the full-index variant.

    Everything downstream of the dictionary runs on LONG shingle ids,
    not shingle strings: the frozen frequency table doubles as an
    exact (collision-free) string→long dictionary (see
    ``_shingle_id_tables`` for the eager-freeze rationale), so every
    consumer sees the same mapping. Join keys hash/compare as longs
    and the verification
    intersects long arrays instead of ~30-byte strings; jaccard only
    counts elements, so results are bit-identical. Measured at sf0.1:
    7.6 s → 2.0 s for the same 260-row output (the round-3 "halve the
    slowest sweep query" item — this replaces the suggested persisted
    postings table, which cannot help a one-shot query).
    """
    if not 0 < threshold <= 1:
        raise ValueError("prefix filtering needs 0 < threshold <= 1")

    shs, ordered, sets = _shingle_id_tables(docs, shingle_size)
    prefix_len = _prefix_len(threshold)
    # materialize the prefix postings once: the candidate SELF-join
    # consumes this subtree twice, and lineage re-evaluation there
    # costs more than the materialized rows (measured at sf0.1).
    # ``n`` rides ``ordered`` since round 11 — no sizes join.
    prefix = (
        ordered.where(F.col("_pos") <= prefix_len)
        .select("doc_id", "_sid")
        .transform(pin)
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a._sid") == F.col("b._sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh_set").alias("_sa"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh_set").alias("_sb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    shingle_size: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
) -> DataFrame:
    """(doc_a, doc_b, containment): pairs whose shingle-set CONTAINMENT
    |A∩B| / min(|A|,|B|) ≥ threshold — the asymmetric near-dup measure.
    Jaccard misses exactly these: a short document quoted inside a
    10×-longer one has |A∩B| ≈ |A| (containment ≈ 1) but Jaccard ≈
    |A|/|B| ≈ 0.1, so a Jaccard-thresholded dedup never links them.
    Containment is the standard detector for quotes, boilerplate
    inclusion, and subset re-posts.

    Exact, via an ASYMMETRIC prefix filter: the pigeonhole bound
    |A∩B| ≥ t·n_small forces a shared shingle within the SMALLER
    document's first ``n − ceil(t·n) + 1`` rare-first-ordered shingles
    (the larger side carries no such bound — a prefix×prefix join
    would silently miss the quote-in-long-doc case), so candidates
    come from prefix(smaller) ⋈ full-postings(larger), and the
    verification intersects bounded per-doc sorted shingle-ID arrays.
    Skew shape: a hot (stopword) shingle has huge full-side df but
    near-zero PREFIX-side df under rare-first ordering, so per-shingle
    join cost is df_full · df_prefix, not df_full² — the same reason
    the Jaccard prefix path scales. Runs on the frozen long-id shingle
    dictionary (see ngram_jaccard_pairs_prefix).
    """
    if not 0 < threshold <= 1:
        raise ValueError("containment prefix filter needs 0 < threshold <= 1")

    shs, ordered, sets = _shingle_id_tables(docs, shingle_size)
    # ``n`` rides ``ordered`` since round 11 — no sizes joins; the
    # full postings side reads the same checkpointed window output
    prefix = (
        ordered.where(F.col("_pos") <= _prefix_len(threshold))
        .select("doc_id", "_sid", "n")
        .transform(pin)
    )
    full = ordered.select("doc_id", "_sid", "n")
    # smaller side must produce the prefix hit; size ties break by id
    # so each unordered pair is generated exactly once
    cand = (
        prefix.alias("p")
        .join(
            full.alias("q"),
            (F.col("p._sid") == F.col("q._sid"))
            & (
                (F.col("p.n") < F.col("q.n"))
                | (
                    (F.col("p.n") == F.col("q.n"))
                    & (F.col("p.doc_id") < F.col("q.doc_id"))
                )
            ),
        )
        .select(
            F.col("p.doc_id").alias("_small"),
            F.col("q.doc_id").alias("_large"),
        )
        .distinct()
    )
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("_small"),
                F.col("sh_set").alias("_sa"),
                F.col("n").alias("na"),
            ),
            "_small",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("_large"),
                F.col("sh_set").alias("_sb"),
                F.col("n").alias("nb"),
            ),
            "_large",
        )
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "containment",
            F.round(
                F.col("inter") / F.least(F.col("na"), F.col("nb")), 6
            ),
        )
        .where(F.col("containment") >= threshold)
        .select(
            F.least("_small", "_large").alias("doc_a"),
            F.greatest("_small", "_large").alias("doc_b"),
            "containment",
        )
    )


def pair_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """One-row (n_predicted, n_truth, n_hit, precision, recall, f1)
    for two pair sets — the dedup-quality readout (how good are the
    LSH candidates against exact similarity truth?) computed as set
    joins, no driver-side pair materialization. Pairs are canonical
    (a < b) on both inputs; rounding matches cross-engine oracles."""
    p = predicted.select(a_col, b_col).distinct()
    t = truth.select(a_col, b_col).distinct()
    hit = p.join(t, [a_col, b_col], "left_semi")
    counts = (
        p.agg(F.count(F.lit(1)).alias("n_predicted"))
        .crossJoin(t.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    prec = F.col("n_hit") / F.greatest(F.col("n_predicted"), F.lit(1))
    rec = F.col("n_hit") / F.greatest(F.col("n_truth"), F.lit(1))
    return counts.select(
        "n_predicted",
        "n_truth",
        "n_hit",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 6
        ).alias("f1"),
    )
