"""E-series + training-data-pipeline queries (SURVEY.md §2.9 E-series;
BASELINE.json north star: dedup, similarity search, text analysis).

Each query is declared in one place: an ``ext_*`` function, followed
directly by its ``ORACLE["ext_*"]`` DuckDB SQL if it has one. Queries
that are pure SQL text are one ``_SQL_TEXT`` entry each; that text is
both what Spark runs and the oracle. ``QUERIES`` is built at the end of
the module from the ``ext_*`` functions, in definition order, then the
``_SQL_TEXT`` entries.

Every query with an ORACLE string is hash-checked against DuckDB at
sf0.01 by the driver; queries without one (approximate ANN, multimodal
plumbing) get rows-only checks. Hashing portability: md5 hex strings
are identical across engines; min-of-md5 is the MinHash; bit
extraction is integer arithmetic (floor(v / 2^k) % 2) in both dialects.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mitoscape_spark.catalog import load_table, register_views
from mitoscape_spark.functions.textnorm import TEXTNORM_SQL
from mitoscape_spark.operators.textstats import BPE_SPLIT_PATTERN
from mitoscape_spark.pins import pin

ORACLE: dict[str, str] = {}

# SQL fragments the oracles below share
_TEXTNORM = TEXTNORM_SQL.format(col="text")

_BPE_PAT_SQL = BPE_SPLIT_PATTERN.replace("'", "''")

_STOP_SQL = {
    "en": "['the','a','of','and','to','in','is','for']",
    "fr": "['le','la','de','et','un','une','est','pour']",
    "de": "['der','die','das','und','ein','ist','für','von']",
    "es": "['el','la','de','y','un','una','es','para']",
}

# Shared DuckDB CTEs: tokens with 0-based pos, 3-token shingles
_TOKS = """
toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
)
"""

_SHINGLES3 = """
sh AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS r(i)
    WHERE len(t) >= 3
)
"""


# ---------------------------------------------------------------- E01
def ext_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number over (customer, totalprice desc) — top-3 orders per
    customer. One shuffle on o_custkey; WindowExec streams sorted runs."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


ORACLE["ext_window_rank"] = """
        SELECT o_custkey, o_orderkey, rn FROM (
            SELECT o_custkey, o_orderkey,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) WHERE rn <= 3 ORDER BY o_custkey, rn
    """


# ---------------------------------------------------------------- E02
def ext_sliding_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding frame agg: per-user running sum over the last 4 events
    (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW ordered by ts)."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
    )
    return (
        events.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 4).alias("sliding_sum"),
        )
        .orderBy("user_id", "event_id")
    )


ORACLE["ext_sliding_sum"] = """
        SELECT user_id, event_id,
               ROUND(SUM(value) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
               ), 4) AS sliding_sum
        FROM events ORDER BY user_id, event_id
    """


# ---------------------------------------------------------------- E03
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash distinct) on a projection with real duplicates."""
    from mitoscape_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs.select("lang", "source")).orderBy(
        "lang", "source"
    )


ORACLE["ext_dedup_exact"] = """
        SELECT DISTINCT lang, source FROM documents ORDER BY lang, source
    """


# ---------------------------------------------------------------- E04
def ext_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k cosine to vec_id 0's embedding."""
    from mitoscape_spark.operators.similarity import topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    query = (
        emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    )
    return topk_cosine(emb.where(F.col("vec_id") != 0), list(query), k=10)


ORACLE["ext_topk_cosine"] = """
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = 0
        )
        SELECT vec_id AS id,
               ROUND(list_cosine_similarity(
                   CAST(embedding AS DOUBLE[]), q.qv), 6) AS cos
        FROM embeddings, q
        WHERE vec_id != 0
        ORDER BY cos DESC, id LIMIT 10
    """


# ---------------------------------------------------------------- E05
def ext_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish length estimate."""
    from mitoscape_spark.operators.textstats import token_counts

    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs).orderBy("doc_id")


ORACLE["ext_tokenize"] = """
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws_tokens,
               CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_bpe_est
        FROM documents ORDER BY doc_id
    """


# ------------------------------------------------------------- dedup
def ext_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: 8 seeded min-md5 hashes over 3-token shingles."""
    from mitoscape_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs).orderBy("doc_id", "seed")


ORACLE["ext_minhash_sig"] = f"""
        WITH {_TOKS}, {_SHINGLES3}
        SELECT doc_id, seed,
               MIN(md5(concat(CAST(seed AS VARCHAR), '|', shingle))) AS minhash
        FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
        GROUP BY doc_id, seed ORDER BY doc_id, seed
    """


def ext_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 2 rows): candidate near-dup pairs."""
    from mitoscape_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(minhash_signatures(docs)).orderBy(
        "doc_a", "doc_b"
    )


ORACLE["ext_minhash_pairs"] = f"""
        WITH {_TOKS}, {_SHINGLES3},
        sig AS (
            SELECT doc_id, seed,
                   MIN(md5(concat(CAST(seed AS VARCHAR), '|', shingle))) AS minhash
            FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, seed // 2 AS band,
                   string_agg(minhash, ',' ORDER BY seed) AS band_key
            FROM sig GROUP BY doc_id, seed // 2
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        ORDER BY doc_a, doc_b
    """


def ext_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.1 via inverted-index join."""
    from mitoscape_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.1).orderBy(
        "doc_a", "doc_b"
    )


ORACLE["ext_ngram_jaccard"] = f"""
        WITH {_TOKS}, {_SHINGLES3},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(i / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i / (sa.n + sb.n - i) >= 0.1
        ORDER BY doc_a, doc_b
    """


def ext_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dedup pipeline: MinHash → LSH candidate pairs →
    connected components (min-label propagation) → keep the canonical
    (smallest-id) doc per cluster. Oracle: recursive-CTE transitive
    closure over the same band-join pairs."""
    from mitoscape_spark.operators.dedup import (
        dedup_keep_canonical,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the keep-set only depends on bucket CONNECTIVITY, so the hot-
    # bucket guard (star pairs for oversized buckets) is safe here —
    # duplicate-heavy corpora stay linear per cluster
    pairs = minhash_candidate_pairs(
        minhash_signatures(docs), max_bucket_size=64
    )
    return (
        dedup_keep_canonical(docs, pairs)
        .select("doc_id")
        .orderBy("doc_id")
    )


ORACLE["ext_dedup_near"] = f"""
        WITH RECURSIVE {_TOKS}, {_SHINGLES3},
        sig AS (
            SELECT doc_id, seed,
                   MIN(md5(concat(CAST(seed AS VARCHAR), '|', shingle))) AS minhash
            FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, seed // 2 AS band,
                   string_agg(minhash, ',' ORDER BY seed) AS band_key
            FROM sig GROUP BY doc_id, seed // 2
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
            WHERE r.s != e.d
        ),
        comp AS (
            SELECT s AS id, LEAST(s, MIN(d)) AS component
            FROM reach GROUP BY s
        )
        SELECT doc_id FROM documents d
        LEFT JOIN comp c ON d.doc_id = c.id AND c.id != c.component
        WHERE c.id IS NULL
        ORDER BY doc_id
    """


def ext_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: part names within edit distance 1–3, blocked on
    the first token (per-block equi-join, never a cross product), with
    length pruning and banded Levenshtein inside the block (3× measured
    on this corpus, whose 92-word vocabulary makes blocks huge — finer
    keys like operators.fuzzy.token_prefix_block cut cost further but
    this corpus has no dist≤3 pairs sharing two tokens, which would
    make the check vacuous).

    No final orderBy: the output is 1.5M pairs at sf0.1 and a global
    sort of it cost 7.7 s — MORE than the whole linkage (5.5 s) — while
    both the verifier's hash and the driver's canonicalizer are
    order-insensitive. Sorting a pair dump before the sink is exactly
    the kind of work a 100 TB plan must not do unless the sink needs
    it."""
    from mitoscape_spark.operators.fuzzy import fuzzy_pairs

    part = load_table(spark, sf_dir, "part")
    return fuzzy_pairs(part, "p_partkey", "p_name")


ORACLE["ext_fuzzy_match"] = """
        WITH b AS (
            SELECT p_partkey, p_name,
                   string_split(p_name, ' ')[1] AS blk
            FROM part
        )
        SELECT a.p_partkey AS id_a, b2.p_partkey AS id_b,
               levenshtein(a.p_name, b2.p_name) AS dist
        FROM b a JOIN b b2
          ON a.blk = b2.blk AND a.p_partkey < b2.p_partkey
        WHERE levenshtein(a.p_name, b2.p_name) BETWEEN 1 AND 3
        ORDER BY id_a, id_b
    """


def ext_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (majority vote over token md5 bits)."""
    from mitoscape_spark.operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs).orderBy("doc_id")


ORACLE["ext_simhash"] = f"""
        WITH {_TOKS},
        tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        hv AS (
            SELECT doc_id,
                   (instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 4096
                 + (instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) * 256
                 + (instr('0123456789abcdef', substring(md5(tok), 3, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substring(md5(tok), 4, 1)) - 1) AS hval
            FROM tok
        ),
        votes AS (
            SELECT doc_id, b,
                   SUM(CAST(FLOOR(hval / POW(2, b)) AS INT) % 2 * 2 - 1) AS vote
            FROM hv, UNNEST(range(16)) AS r(b)
            GROUP BY doc_id, b
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN vote > 0
                    THEN CAST(POW(2, b) AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS simhash
        FROM votes GROUP BY doc_id ORDER BY doc_id
    """


def ext_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.9, brute-force baseline)."""
    from mitoscape_spark.operators.dedup import embedding_near_duplicates

    emb = load_table(spark, sf_dir, "embeddings")
    # synthetic embeddings are near-orthogonal (max pairwise cosine
    # ≈ 0.51) — 0.35 keeps the check non-vacuous
    return embedding_near_duplicates(emb, threshold=0.35).orderBy(
        "id_a", "id_b"
    )


ORACLE["ext_embedding_neardup"] = """
        SELECT * FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 6) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ) WHERE cos >= 0.35
        ORDER BY id_a, id_b
    """


# ------------------------------------------------------------ text
def ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mitoscape_spark.operators.textstats import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return lang_id(docs).orderBy("doc_id")


ORACLE["ext_lang_id"] = f"""
        WITH {_TOKS},
        scored AS (
            SELECT doc_id, lang,
                   len(list_intersect(t, stops)) AS hits
            FROM toks, (VALUES
                ('en', {_STOP_SQL['en']}),
                ('fr', {_STOP_SQL['fr']}),
                ('de', {_STOP_SQL['de']}),
                ('es', {_STOP_SQL['es']})
            ) AS p(lang, stops)
        ),
        best AS (
            SELECT doc_id, lang, hits,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY hits DESC, lang DESC
                   ) AS rn
            FROM scored
        )
        SELECT doc_id,
               CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred,
               hits AS lang_hits
        FROM best WHERE rn = 1 ORDER BY doc_id
    """


def ext_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mitoscape_spark.operators.textstats import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    return quality_scores(docs).orderBy("doc_id")


ORACLE["ext_quality"] = f"""
        WITH base AS (
            SELECT doc_id, text,
                   len(string_split(lower(text), ' ')) AS n_tokens,
                   length(text) - length(
                       regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')
                   ) AS n_punct,
                   len(list_intersect(
                       string_split(lower(text), ' '),
                       {_STOP_SQL['en']})) AS n_stopwords
            FROM documents
        )
        SELECT doc_id, n_tokens,
               ROUND((length(text) - n_tokens + 1.0) / n_tokens, 4)
                   AS avg_word_len,
               n_punct, n_stopwords,
               ROUND(
                   LEAST(n_tokens / 50.0, 1.0) * 0.4
                   + (1 - LEAST(n_punct / GREATEST(length(text), 1) * 1.0, 1.0)) * 0.3
                   + LEAST(n_stopwords / 5.0, 1.0) * 0.3, 4) AS quality
        FROM base ORDER BY doc_id
    """


def ext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-token fraction +
    top-bigram fraction per document."""
    from mitoscape_spark.operators.textstats import repetition_scores

    docs = load_table(spark, sf_dir, "documents")
    return repetition_scores(docs).orderBy("doc_id")


ORACLE["ext_repetition"] = f"""
        WITH {_TOKS},
        base AS (
            SELECT doc_id,
                   ROUND(1.0 - len(list_distinct(t)) * 1.0 / len(t), 6)
                       AS dup_token_frac
            FROM toks
        ),
        big AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
            FROM toks, UNNEST(range(1, len(t))) AS r(i)
        ),
        bgc AS (
            SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg
        ),
        bgm AS (
            SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS tbf
            FROM bgc GROUP BY doc_id
        )
        SELECT b.doc_id, b.dup_token_frac,
               ROUND(COALESCE(m.tbf, 0.0), 6) AS top_bigram_frac
        FROM base b LEFT JOIN bgm m USING (doc_id) ORDER BY b.doc_id
    """


def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mitoscape_spark.operators.textstats import fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return fingerprints(docs).orderBy("doc_id")


ORACLE["ext_fingerprint"] = f"""
        WITH {_TOKS},
        sh4 AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS shingle
            FROM toks, UNNEST(range(1, greatest(len(t) - 2, 1))) AS r(i)
            WHERE len(t) >= 4
        )
        SELECT doc_id, MIN(md5(shingle)) AS fingerprint
        FROM sh4 GROUP BY doc_id ORDER BY doc_id
    """


def ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.py::weighted_sample_without_replacement):
    10 docs per source, inclusion probability rising with n_chars —
    the Efraimidis–Spirakis ln(u)/w key with u drawn from md5(doc_id),
    so the sample is identical on every run, engine, and partitioning.
    The oracle recomputes the identical keys (the hex-prefix integer
    conversion is bit-exact cross-engine) and the same top-k."""
    from mitoscape_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return weighted_sample_without_replacement(
        docs, "n_chars", k=10, id_col="doc_id", group_col="source"
    ).orderBy("source", "doc_id")


ORACLE["ext_weighted_sample"] = """
        WITH keyed AS (
            SELECT source, doc_id, n_chars,
                   LN((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                        )::BIGINT + 1.0) / 4503599627370497.0)
                   / n_chars AS wk
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
        )
        SELECT source, doc_id, n_chars FROM keyed
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY wk DESC, doc_id
        ) <= 10
        ORDER BY source, doc_id
    """


def ext_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization
    (operators/ranking.py::quantile_normalize): each source's n_chars
    distribution maps onto the pooled distribution (pooled order
    statistic at the within-source percent_rank, lower interpolation)
    — the batch-effect correction that makes one global quality
    threshold mean the same thing for every source. The pooled ranking
    runs through global_rank's bucketed two-phase plan (no
    single-partition window); the oracle restates it with the naive
    global ROW_NUMBER, so the hash match proves the distributed
    ranking exact."""
    from mitoscape_spark.operators.ranking import quantile_normalize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return (
        quantile_normalize(docs, "n_chars", "source", "doc_id")
        .select("doc_id", "source", "n_chars", "norm_score")
        .orderBy("doc_id")
    )


ORACLE["ext_quantile_norm"] = """
        WITH pooled AS (
            SELECT ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r,
                   CAST(n_chars AS DOUBLE) AS v
            FROM documents
        ), pr AS (
            SELECT doc_id, source, n_chars,
                   CAST(FLOOR(
                       PERCENT_RANK() OVER (
                           PARTITION BY source ORDER BY n_chars, doc_id
                       ) * (SELECT COUNT(*) - 1 FROM documents)
                   ) AS BIGINT) + 1 AS k
            FROM documents
        )
        SELECT p.doc_id, p.source, p.n_chars, l.v AS norm_score
        FROM pr p JOIN pooled l ON p.k = l.r
        ORDER BY p.doc_id
    """


def ext_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate signal
    (operators/textstats.py::boilerplate_fractions): per doc, the
    fraction of its distinct 3-gram shingles occurring in ≥ 3 docs
    corpus-wide — the template/header/footer filter that per-document
    repetition (ext_repetition) structurally cannot see. One shingle
    doc-frequency shuffle + a co-partitioned join back."""
    from mitoscape_spark.operators.textstats import boilerplate_fractions

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_fractions(docs, n=3, min_docs=3).orderBy("doc_id")


ORACLE["ext_boilerplate"] = f"""
        WITH {_TOKS}, {_SHINGLES3},
        dfreq AS (
            SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
        )
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_common,
               ROUND(SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS boilerplate_frac
        FROM sh s JOIN dfreq d USING (shingle)
        GROUP BY s.doc_id ORDER BY s.doc_id
    """


def ext_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint set (MOSS scheme): min 3-gram hash per
    4-window — local-match document fingerprinting, all JVM HOFs."""
    from mitoscape_spark.operators.textstats import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=3, window=4).orderBy("doc_id", "fp")


ORACLE["ext_winnow_fingerprint"] = f"""
        WITH {_TOKS},
        grams AS (
            SELECT doc_id, i,
                   md5(array_to_string(t[i:i+2], ' ')) AS h
            FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
            WHERE len(t) >= 3
        ),
        hs AS (
            SELECT doc_id, list(h ORDER BY i) AS hl
            FROM grams GROUP BY doc_id
        ),
        wins AS (
            SELECT doc_id, list_min(hl[i:i+3]) AS fp
            FROM hs, UNNEST(range(1, len(hl) - 2)) AS r(i)
            WHERE len(hl) >= 4
        )
        SELECT DISTINCT doc_id, fp FROM wins ORDER BY doc_id, fp
    """


def ext_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style local-match pairs on shared winnowing fingerprints:
    (doc_a, doc_b, shared) for pairs sharing ≥ 5 fingerprints —
    the plagiarism/quote detector the winnowing scheme exists for
    (fingerprints guarantee any shared run ≥ window+k−1 tokens leaves
    a shared fingerprint, so local overlaps are caught without
    all-pairs text comparison). Inverted-index equi-join on fp + one
    grouped count; the oracle composes the already-hash-matched
    winnowing CTE with the same join."""
    from mitoscape_spark.operators.textstats import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    # §20 pin: both self-join sides consume the winnowing pipeline
    # (tokenize → k-gram hash → window argmin) — run it once
    fps = (
        winnow_fingerprints(docs, k=3, window=4)
        .dropDuplicates(["doc_id", "fp"])
        .transform(pin)
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= 5)
        .orderBy("doc_a", "doc_b")
    )


ORACLE["ext_winnow_pairs"] = f"""
        WITH {_TOKS},
        grams AS (
            SELECT doc_id, i,
                   md5(array_to_string(t[i:i+2], ' ')) AS h
            FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
            WHERE len(t) >= 3
        ),
        hs AS (
            SELECT doc_id, list(h ORDER BY i) AS hl
            FROM grams GROUP BY doc_id
        ),
        wins AS (
            SELECT DISTINCT doc_id, list_min(hl[i:i+3]) AS fp
            FROM hs, UNNEST(range(1, len(hl) - 2)) AS r(i)
            WHERE len(hl) >= 4
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM wins a JOIN wins b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 5
        ORDER BY doc_a, doc_b
    """


def ext_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (max 20 docs/source): deterministic
    md5-order rank within source — the mixture-balance primitive that
    stops dominant sources drowning the corpus."""
    from mitoscape_spark.operators.sampling import cap_per_key

    docs = load_table(spark, sf_dir, "documents")
    return (
        cap_per_key(docs, "source", 20, "doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


ORACLE["ext_cap_per_source"] = """
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS r
            FROM documents
        ) t WHERE r <= 20 ORDER BY doc_id
    """


def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dedup END-TO-END: blocked-GEMM cosine pairs
    (≥ 0.35) → large-star/small-star connected components → keep the
    smallest vec_id per cluster. Oracle: recursive-CTE transitive
    closure over the same cosine pairs."""
    from mitoscape_spark.operators.dedup import (
        dedup_keep_canonical,
        embedding_near_duplicates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(emb, threshold=0.35).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return (
        dedup_keep_canonical(emb, pairs, id_col="vec_id")
        .select("vec_id")
        .orderBy("vec_id")
    )


ORACLE["ext_dedup_embedding"] = """
        WITH RECURSIVE pairs AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE ROUND(list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
        ),
        edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
            WHERE r.s != e.d
        ),
        comp AS (
            SELECT s AS id, LEAST(s, MIN(d)) AS component
            FROM reach GROUP BY s
        )
        SELECT vec_id FROM embeddings e
        LEFT JOIN comp c ON e.vec_id = c.id AND c.id != c.component
        WHERE c.id IS NULL
        ORDER BY vec_id
    """


def ext_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal: per-doc mean NLL under an add-0.5
    bigram LM trained on the corpus itself (atypical word transitions
    score high)."""
    from mitoscape_spark.operators.textstats import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs).orderBy("doc_id")


ORACLE["ext_lm_score"] = f"""
        WITH {_TOKS},
        bg AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
            FROM toks, UNNEST(range(1, len(t))) AS r(i)
            WHERE len(t) >= 2
        ),
        bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
        uc AS (SELECT w1, COUNT(*) AS cu FROM bg GROUP BY w1),
        v AS (
            SELECT COUNT(DISTINCT x) AS nv
            FROM toks, UNNEST(t) AS u(x)
        )
        SELECT g.doc_id,
               COUNT(*) AS n_bigrams,
               ROUND(AVG(-LN((bc.cb + 0.5) / (uc.cu + 0.5 * v.nv))), 4)
                   AS nll
        FROM bg g
        JOIN bc USING (w1, w2)
        JOIN uc USING (w1)
        CROSS JOIN v
        GROUP BY g.doc_id
        ORDER BY g.doc_id
    """


def ext_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring removal (ExactSubstr dedup re-expressed
    relationally, Lee et al. 2022): every 4-token span occurring in
    >= 2 documents is excised; surviving tokens re-assemble in order.
    All shuffle-partitioned joins/aggs — no suffix array, no driver
    state (operators/substrings.py)."""
    from mitoscape_spark.operators.substrings import common_span_removal

    docs = load_table(spark, sf_dir, "documents")
    return common_span_removal(docs, n=4, min_docs=2).orderBy("doc_id")


ORACLE["ext_substring_dedup"] = f"""
        WITH {_TOKS},
        grams AS (
            SELECT doc_id, CAST(i AS INT) AS i,
                   array_to_string(t[i:i+3], ' ') AS g
            FROM toks, UNNEST(range(1, greatest(len(t) - 3, 0) + 1)) AS r(i)
        ),
        common AS (
            SELECT g FROM grams GROUP BY g
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        covered AS (
            SELECT DISTINCT doc_id, i + CAST(o AS INT) AS tokpos
            FROM grams JOIN common USING (g)
            CROSS JOIN UNNEST(range(4)) AS u(o)
        ),
        alltoks AS (
            SELECT doc_id, CAST(j AS INT) AS tokpos, t[j] AS tok
            FROM toks, UNNEST(range(1, len(t) + 1)) AS rr(j)
        ),
        kept AS (
            SELECT a.doc_id, a.tokpos, a.tok FROM alltoks a
            ANTI JOIN covered c
            ON a.doc_id = c.doc_id AND a.tokpos = c.tokpos
        ),
        agg AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY tokpos) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(a.clean_text, '') AS clean_text,
               CAST(len(string_split(lower(d.text), ' '))
                    - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """


def ext_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (n_s^0.5 budget, 100-doc
    total): the multilingual-recipe sampler — head sources flattened,
    tail boosted; deterministic md5 fill order."""
    from mitoscape_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return (
        temperature_mix(docs, "source", "doc_id", total=100, alpha=0.5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


ORACLE["ext_temperature_mix"] = """
        WITH counts AS (
            SELECT source, COUNT(*) AS n FROM documents GROUP BY source
        ),
        bud AS (
            SELECT source,
                   CAST(FLOOR(100.0 * POW(n, 0.5)
                        / SUM(POW(n, 0.5)) OVER ()) AS BIGINT) AS b
            FROM counts
        ),
        ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rk
            FROM documents
        )
        SELECT doc_id, source
        FROM ranked JOIN bud USING (source)
        WHERE rk <= b ORDER BY doc_id
    """


def ext_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile gate: keep each source's top half
    by composite quality score (percent_rank window) — drops every
    source's worst tail without emptying weak sources the way a global
    cutoff would."""
    from mitoscape_spark.operators.sampling import top_fraction_per_key
    from mitoscape_spark.operators.textstats import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    # one scan: pass source through the scoring projection instead of
    # self-joining two scans on doc_id (round-7 join elimination)
    scored = quality_scores(docs, keep=("source",)).select(
        "doc_id", "source", "quality"
    )
    return (
        top_fraction_per_key(scored, "source", "quality", 0.5, "doc_id")
        .select("doc_id", "source", "quality")
        .orderBy("doc_id")
    )


ORACLE["ext_quality_filter"] = f"""
        WITH base AS (
            SELECT doc_id, source, text,
                   len(string_split(lower(text), ' ')) AS n_tokens,
                   length(text) - length(
                       regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')
                   ) AS n_punct,
                   len(list_intersect(
                       string_split(lower(text), ' '),
                       {_STOP_SQL['en']})) AS n_stopwords
            FROM documents
        ),
        scored AS (
            SELECT doc_id, source,
                   ROUND(
                       LEAST(n_tokens / 50.0, 1.0) * 0.4
                       + (1 - LEAST(n_punct / GREATEST(length(text), 1) * 1.0,
                                    1.0)) * 0.3
                       + LEAST(n_stopwords / 5.0, 1.0) * 0.3, 4) AS quality
            FROM base
        ),
        ranked AS (
            SELECT doc_id, source, quality,
                   PERCENT_RANK() OVER (
                       PARTITION BY source
                       ORDER BY quality DESC, doc_id
                   ) AS pr
            FROM scored
        )
        SELECT doc_id, source, quality FROM ranked
        WHERE pr <= 0.5 ORDER BY doc_id
    """


def ext_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table transaction layer end-to-end: three REAL commits
    (append, append, overwrite) into a fresh table, then one
    time-travel read per version. Versioned manifests + atomic
    publish (sources/snapshots.py) — the lakehouse primitive that
    makes 100 TB parquet safely writable. Oracle reproduces each
    version's membership predicate directly."""
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811

    from mitoscape_spark.sources import snapshots as snap

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    with tempfile.TemporaryDirectory(prefix="snap_tt_") as root:
        t = f"{root}/docs"
        snap.commit(docs.where(F.col("doc_id") % 5 < 2), t)
        snap.commit(docs.where((F.col("doc_id") % 5).isin(2, 3)), t)
        snap.commit(
            docs.where(F.col("doc_id") % 5 == 4), t, mode="overwrite"
        )
        per_version = [
            snap.read(spark, t, version=v)
            .agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("sum_doc_id"),
            )
            for v in (1, 2, 3)
        ]
        out = per_version[0]
        for df in per_version[1:]:
            out = out.unionByName(df)
        # materialize before the TemporaryDirectory vanishes
        rows = out.orderBy("version").collect()
    return spark.createDataFrame(
        rows, "version int, n_docs bigint, sum_doc_id bigint"
    )


ORACLE["ext_time_travel"] = """
        WITH v1 AS (SELECT doc_id FROM documents WHERE doc_id % 5 < 2),
        v2 AS (
            SELECT doc_id FROM documents WHERE doc_id % 5 < 4
        ),
        v3 AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 4)
        SELECT 1 AS version, COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id FROM v1
        UNION ALL
        SELECT 2, COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM v2
        UNION ALL
        SELECT 3, COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM v3
        ORDER BY version
    """


def ext_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering + balanced selection (operators/
    clustering.py): distributed k-means over the embeddings table,
    per-cluster geometry readout, and a deterministic 20-per-cluster
    balanced sample. Rows-only (Lloyd iterations aren't
    SQL-expressible); the geometry/sampling math is pinned by unit
    tests against numpy."""
    from mitoscape_spark.operators.clustering import (
        balanced_sample,
        cluster_profiles,
        fit_clusters,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centers = fit_clusters(emb, k=8)
    prof = cluster_profiles(emb, assigned, centers)
    sampled = (
        balanced_sample(assigned, per_cluster=20)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        prof.join(sampled, "cluster", "left")
        .na.fill(0, ["n_sampled"])
        .orderBy("cluster")
    )


def ext_cluster_balance_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-checked invariants of k-means + balanced sampling (round-3
    verdict #4 — the driver-checkable companion to the rows-only
    ext_cluster_balance): every embedding assigned exactly once
    (total_assigned matches the table count), at most k clusters
    (k_ok), and the per-cluster sample quota exactly least(n, 20)
    (quota_ok). The oracle derives total_assigned independently and
    states the booleans as 1 — a double-assignment, dropped row, or
    quota breach flips a value and hash-mismatches."""
    from mitoscape_spark.operators.clustering import (
        balanced_sample,
        cluster_profiles,
        fit_clusters,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centers = fit_clusters(emb, k=8)
    prof = cluster_profiles(emb, assigned, centers)
    sampled = (
        balanced_sample(assigned, per_cluster=20)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        prof.join(sampled, "cluster", "left")
        .na.fill(0, ["n_sampled"])
        .agg(
            F.sum("n").cast("long").alias("total_assigned"),
            (F.count(F.lit(1)) <= F.lit(8)).cast("int").alias("k_ok"),
            F.min(
                (
                    F.col("n_sampled") == F.least(F.col("n"), F.lit(20))
                ).cast("int")
            ).alias("quota_ok"),
        )
    )


ORACLE["ext_cluster_balance_invariants"] = """
        SELECT CAST(COUNT(*) AS BIGINT) AS total_assigned,
               1 AS k_ok,
               1 AS quota_ok
        FROM embeddings
    """


def ext_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-EXPRESSION distinct counts via theta sketches (Spark 4
    DataSketches): per-event-type user sketches, then |A∩B| and |A∪B|
    for every type pair from sketch algebra — the audience-overlap
    question HLL cannot answer (HLL unions but never intersects).

    Mergeability is the scale property: sketches partial-aggregate
    map-side and the pair matrix is computed over k-row sketch state,
    never by re-scanning the fact table per pair. Below the sketch's
    nominal capacity (4096 entries; 150 users/type here) estimates are
    EXACT, so the DuckDB oracle states plain COUNT(DISTINCT ...)."""
    events = load_table(spark, sf_dir, "events")
    # §20 pin: both sides of the pair cross-join read the sketch
    # table — without it the events scan + sketch agg runs twice
    sk = (
        events.groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
        .transform(pin)
    )
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b")
    )
    pairs = a.crossJoin(b).where(F.col("type_a") < F.col("type_b"))
    return (
        pairs.select(
            "type_a",
            "type_b",
            F.theta_sketch_estimate("sk_a").alias("n_a"),
            F.theta_sketch_estimate("sk_b").alias("n_b"),
            F.theta_sketch_estimate(
                F.theta_intersection("sk_a", "sk_b")
            ).alias("n_both"),
            F.theta_sketch_estimate(
                F.theta_union("sk_a", "sk_b")
            ).alias("n_either"),
        )
        .orderBy("type_a", "type_b")
    )


ORACLE["ext_theta_overlap"] = """
        WITH u AS (
            SELECT DISTINCT event_type, user_id FROM events
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_a,
               CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS n_b,
               CAST(COUNT(DISTINCT CASE WHEN a.user_id = b.user_id
                    THEN a.user_id END) AS BIGINT) AS n_both,
               CAST(COUNT(DISTINCT a.user_id)
                    + COUNT(DISTINCT b.user_id)
                    - COUNT(DISTINCT CASE WHEN a.user_id = b.user_id
                          THEN a.user_id END) AS BIGINT) AS n_either
        FROM u a CROSS JOIN u b
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


def ext_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-hour distinct users from MERGEABLE hourly THETA
    sketches: one sketch per hour (map-side partial agg), the rolling
    window unions 3 sketch rows — the fact table is scanned ONCE no
    matter how many windows, the re-aggregation works on KB sketch
    state. COUNT(DISTINCT) does not decompose over overlapping
    windows; sketch algebra does. Theta (not HLL — round-12 fix): a
    theta sketch below nominal capacity retains the raw hash set, so
    its estimate is the EXACT distinct count and the brute-force
    oracle below is valid by construction; HLL's coupon estimator is
    only approximately exact even in sparse mode and first diverged
    (±1 on 15/500 windows) at sf0.1. lgNomEntries=14 keeps the 3-hour
    unions (~400 users at sf0.1) far below the 16384-entry exact
    capacity; beyond capacity the same plan degrades to ±2% estimates
    with identical shuffle bytes."""
    events = load_table(spark, sf_dir, "events")
    # §20 pin: the rolling self-join reads the hourly sketch table on
    # both sides — without it the events scan + sketch agg runs twice
    hourly = (
        events.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.theta_sketch_agg("user_id", 14).alias("sk"))
        .transform(pin)
    )
    a, b = hourly.alias("a"), hourly.alias("b")
    return (
        a.join(
            b,
            (F.col("b.h") >= F.col("a.h") - F.expr("INTERVAL 2 HOURS"))
            & (F.col("b.h") <= F.col("a.h")),
        )
        .groupBy(F.col("a.h").alias("h"))
        .agg(
            F.theta_sketch_estimate(
                F.theta_union_agg(F.col("b.sk"), 14)
            ).alias("n_users_3h")
        )
        .orderBy("h")
        .limit(500)
    )


ORACLE["ext_sliding_distinct"] = """
        WITH hours AS (
            SELECT DISTINCT date_trunc('hour', ts) AS h FROM events
        )
        SELECT hours.h,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT)
                   AS n_users_3h
        FROM hours
        JOIN events e
          ON date_trunc('hour', e.ts)
             BETWEEN hours.h - INTERVAL 2 HOUR AND hours.h
        GROUP BY hours.h
        ORDER BY hours.h
        LIMIT 500
    """


def ext_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group MODE (most frequent event type per
    user, ties to the lexicographically smallest) via ``max_by`` over
    a composite ordering struct — one agg tree, no window over the
    fact table. The oracle states the window-rank formulation; both
    must agree exactly BECAUSE the tie-break is total."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        counts.groupBy("user_id")
        .agg(
            F.min_by(
                "event_type", F.struct((-F.col("n")).alias("neg"),
                                       F.col("event_type"))
            ).alias("mode_type"),
            F.max("n").alias("n_mode"),
        )
        .orderBy("user_id")
        .limit(1000)
    )


ORACLE["ext_grouped_mode"] = """
        WITH counts AS (
            SELECT user_id, event_type, COUNT(*) AS n
            FROM events GROUP BY user_id, event_type
        ),
        ranked AS (
            SELECT user_id, event_type, n,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY n DESC, event_type
                   ) AS rk
            FROM counts
        )
        SELECT user_id, event_type AS mode_type, n AS n_mode
        FROM ranked WHERE rk = 1
        ORDER BY user_id
        LIMIT 1000
    """


def ext_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-free global row numbering (operators/packing.py::
    global_row_number): stable 0-based ids in orderkey order via the
    two-phase bucketed prefix sum — never a single-partition window.
    Oracle states the plain ROW_NUMBER form."""
    from mitoscape_spark.operators.packing import global_row_number

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return (
        global_row_number(orders, "o_orderkey")
        .select("o_orderkey", "row_id")
        .orderBy("o_orderkey")
        .limit(1000)
    )


ORACLE["ext_row_ids"] = """
        SELECT o_orderkey,
               CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1
                    AS BIGINT) AS row_id
        FROM orders
        ORDER BY o_orderkey
        LIMIT 1000
    """


def ext_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth over customer names, restricted to the
    subset Spark and DuckDB define identically: case mapping, pad,
    substring, replace, split_part, reverse, levenshtein. Engines
    disagree on plenty (soundex, initcap edge cases, regexp dialects)
    — those stay out of the contract on purpose."""
    customer = load_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    return (
        customer.select(
            "c_custkey",
            F.upper(name).alias("u"),
            F.length(name).alias("len"),
            F.lpad(name, 14, "_").alias("padded"),
            F.substring(name, 1, 8).alias("prefix"),
            F.regexp_replace(name, "[0-9]", "#").alias("masked"),
            F.reverse(name).alias("rev"),
            F.split(name, "_").getItem(0).alias("stem"),
            F.levenshtein(name, F.lit("Customer_1")).alias("lev"),
        )
        .orderBy("c_custkey")
        .limit(500)
    )


ORACLE["ext_string_funcs"] = """
        SELECT c_custkey,
               upper(c_name) AS u,
               length(c_name) AS len,
               lpad(c_name, 14, '_') AS padded,
               substr(c_name, 1, 8) AS prefix,
               regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
               reverse(c_name) AS rev,
               split_part(c_name, '_', 1) AS stem,
               levenshtein(c_name, 'Customer_1') AS lev
        FROM customer
        ORDER BY c_custkey
        LIMIT 500
    """


def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity governance (operators/profile.py): the below-k
    quasi-identifier tail over (nation, market segment), plus the
    post-suppression corpus size — one hash agg + one anti-join.
    Oracle restates both via HAVING/NOT IN."""
    from mitoscape_spark.operators.profile import (
        k_anonymity_report,
        suppress_rare_combinations,
    )

    customer = load_table(spark, sf_dir, "customer")
    quasi = ["c_nationkey", "c_mktsegment"]
    report = k_anonymity_report(customer, quasi, k=8)
    kept = suppress_rare_combinations(customer, quasi, k=8)
    return (
        report.select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            F.lit(None).cast("long").alias("n_kept_total"),
        )
        .unionByName(
            kept.agg(
                F.lit(None).cast("long").alias("c_nationkey"),
                F.lit(None).cast("string").alias("c_mktsegment"),
                F.lit(None).cast("long").alias("group_size"),
                F.count(F.lit(1)).alias("n_kept_total"),
            )
        )
        .orderBy(
            F.col("c_nationkey").asc_nulls_last(), F.col("c_mktsegment")
        )
    )


ORACLE["ext_k_anonymity"] = """
        WITH rare AS (
            SELECT c_nationkey, c_mktsegment,
                   COUNT(*) AS group_size
            FROM customer
            GROUP BY c_nationkey, c_mktsegment
            HAVING COUNT(*) < 8
        ),
        kept AS (
            SELECT COUNT(*) AS n
            FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM rare r
                WHERE r.c_nationkey = c.c_nationkey
                  AND r.c_mktsegment = c.c_mktsegment
            )
        )
        SELECT c_nationkey, c_mktsegment, group_size,
               CAST(NULL AS BIGINT) AS n_kept_total
        FROM rare
        UNION ALL
        SELECT NULL, NULL, NULL, n FROM kept
        ORDER BY c_nationkey ASC NULLS LAST, c_mktsegment
    """


def ext_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling semantics surface: null-safe equality (`<=>` /
    IS NOT DISTINCT FROM), NULL-aware conditional aggregation, and
    explicit NULLS FIRST ordering — the SQL corners engines disagree
    on by default; the oracle runs the equivalent DuckDB forms.
    A deterministic predicate nulls out part of event_type, so every
    branch (null group, null-safe hit, non-null groups) is populated."""
    events = load_table(spark, sf_dir, "events")
    ab = events.select(
        "event_id",
        F.when(F.col("value") < 20, None)
        .otherwise(F.col("event_type"))
        .alias("ab"),
        "value",
    )
    return (
        ab.groupBy("ab")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("ab").alias("n_nonnull_key"),
            F.sum(
                F.when(F.col("ab").eqNullSafe("click"), 1).otherwise(0)
            ).alias("n_nullsafe_click"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy(F.col("ab").asc_nulls_first())
    )


ORACLE["ext_null_semantics"] = """
        WITH ab AS (
            SELECT event_id,
                   CASE WHEN value < 20 THEN NULL
                        ELSE event_type END AS ab,
                   value
            FROM events
        )
        SELECT ab,
               COUNT(*) AS n,
               COUNT(ab) AS n_nonnull_key,
               CAST(SUM(CASE WHEN ab IS NOT DISTINCT FROM 'click'
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nullsafe_click,
               ROUND(AVG(value), 6) AS avg_value
        FROM ab
        GROUP BY ab
        ORDER BY ab ASC NULLS FIRST
    """


def ext_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime function breadth over event time: truncation to
    quarter, ISO parts, end-of-month, epoch arithmetic — restricted to
    the subset Spark and DuckDB define identically (documented
    divergences like months_between are excluded on purpose)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.year("ts").alias("y"),
            F.quarter("ts").alias("q"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("dom"),
            F.last_day(F.col("ts").cast("date")).alias("eom"),
        )
        .groupBy("y", "q", "m", "dom", "eom")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("y", "q", "m", "dom")
        .limit(200)
    )


ORACLE["ext_datetime_funcs"] = """
        SELECT year(ts) AS y, quarter(ts) AS q, month(ts) AS m,
               dayofmonth(ts) AS dom,
               last_day(CAST(ts AS DATE)) AS eom,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2, 3, 4, 5
        ORDER BY y, q, m, dom
        LIMIT 200
    """


def ext_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule gate (operators/textstats.py::gopher_rules):
    five per-document quality rules + conjunction, all JVM column
    expressions; the oracle restates every rule in SQL."""
    from mitoscape_spark.operators.textstats import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs).orderBy("doc_id")


ORACLE["ext_gopher_rules"] = """
        WITH t AS (
            SELECT doc_id,
                   string_split(lower(text), ' ') AS toks,
                   len(string_split(lower(text), ' ')) AS n,
                   length(replace(text, ' ', ''))
                       * 1.0 / len(string_split(lower(text), ' '))
                       AS mean_len
            FROM documents
        ),
        r AS (
            SELECT doc_id,
                   (n >= 20 AND n <= 1000) AS r_wordcount,
                   (mean_len >= 2.0 AND mean_len <= 12.0) AS r_meanlen,
                   (len(list_filter(toks,
                        x -> regexp_matches(x, '^.*[a-z].*$')))
                        * 1.0 / n >= 0.8) AS r_alpha,
                   (len(list_intersect(list_distinct(toks),
                        ['the','a','of','and','to','in','is','for']))
                        >= 2) AS r_stopwords,
                   (len(list_distinct(toks)) * 1.0 / n >= 0.2)
                       AS r_repetition
            FROM t
        )
        SELECT doc_id, r_wordcount, r_meanlen, r_alpha, r_stopwords,
               r_repetition,
               (r_wordcount AND r_meanlen AND r_alpha AND r_stopwords
                AND r_repetition) AS passes
        FROM r ORDER BY doc_id
    """


def _lpa_oracle_sql(n_iter: int = 5) -> str:
    """Unrolled deterministic label propagation for ext_communities:
    one materialized CTE per round restating EXACTLY the Spark update —
    every node adopts its neighborhood's most frequent label (self-vote
    weight 1), smallest label on ties. All-integer arithmetic, so the
    match is exact; and because the Spark loop's early exit fires only
    at a FIXED POINT of the update (changed==0 ⇒ further rounds are
    identity), unrolling the full max_iter rounds here yields the
    identical final state no matter when Spark stopped."""
    its = []
    for k in range(1, n_iter + 1):
        its.append(f"""
        it{k} AS MATERIALIZED (
            SELECT node AS id, lbl FROM (
                SELECT node, lbl,
                       ROW_NUMBER() OVER (
                           PARTITION BY node ORDER BY n DESC, lbl
                       ) AS rn
                FROM (
                    SELECT node, lbl, COUNT(*) AS n FROM (
                        SELECT e.a AS node, r.lbl
                        FROM und e JOIN it{k - 1} r ON e.b = r.id
                        UNION ALL
                        SELECT id AS node, lbl FROM it{k - 1}
                    ) GROUP BY node, lbl
                )
            ) WHERE rn = 1
        )""")
    return f"""
        WITH ed AS MATERIALIZED (
            SELECT DISTINCT l_suppkey AS s, l_partkey + 1000000 AS d
            FROM lineitem WHERE l_quantity >= 48
        ), und AS MATERIALIZED (
            SELECT DISTINCT a, b FROM (
                SELECT s AS a, d AS b FROM ed
                UNION ALL
                SELECT d AS a, s AS b FROM ed
            )
        ), it0 AS MATERIALIZED (
            SELECT DISTINCT a AS id, a AS lbl FROM und
        ),{",".join(its)}
        SELECT lbl AS community,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM it{n_iter}
        GROUP BY lbl
        ORDER BY n_members DESC, community
        LIMIT 25
    """


def ext_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities
    (operators/graph.py::label_propagation) on the supplier–part
    bipartite graph (partkeys offset to avoid id collision). Oracle:
    DuckDB unrolls the SAME synchronous update (mode label, self-vote,
    smallest-label tie-break) as max_iter materialized CTE rounds —
    all-integer, and safe to over-unroll because the Spark loop's
    early exit fires only at a fixed point. Per-round math is also
    pinned against a pure-python twin in tests. Output: the 25 largest
    communities by member count."""
    from mitoscape_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    # bulk-order lines only: the full bipartite graph is dense enough
    # to collapse into one community (LPA's known failure mode on
    # near-complete graphs); the >=48-unit slice keeps real structure
    edges = li.where(F.col("l_quantity") >= 48).select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
    ).distinct()
    return (
        label_propagation(edges, max_iter=5)
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(25)
    )


ORACLE["ext_communities"] = _lpa_oracle_sql()


def ext_communities_cliques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation against a SQL-stateable ground truth (round-3
    verdict #4 — the driver-checkable companion to the rows-only
    ext_communities): two disjoint cliques built from the nation table
    (keys 0–11 / 12–24). Deterministic LPA converges each clique to
    its minimum node id in one round — every neighbor label is
    distinct, so the smallest-label tie-break wins everywhere — and
    the oracle states the exact (community, size) rows with plain SQL.

    Clique edges come from explode(sequence(k+1, max)) per node — a
    JVM-side generator, not a cross join (the plan audit forbids
    CartesianProduct repo-wide)."""
    from mitoscape_spark.operators.graph import label_propagation

    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k")
    )

    def clique(nodes: DataFrame, hi: int) -> DataFrame:
        return nodes.where(F.col("k") < hi).select(
            F.col("k").alias("src"),
            F.explode(F.sequence(F.col("k") + 1, F.lit(hi))).alias("dst"),
        )

    edges = clique(n.where(F.col("k") <= 11), 11).unionByName(
        clique(n.where(F.col("k") >= 12), 24)
    )
    return (
        label_propagation(edges, max_iter=5)
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(
            F.col("community").cast("long").alias("community"),
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy("community")
    )


ORACLE["ext_communities_cliques"] = """
        SELECT CAST(MIN(n_nationkey) AS BIGINT) AS community,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM nation WHERE n_nationkey <= 11
        UNION ALL
        SELECT CAST(MIN(n_nationkey) AS BIGINT),
               CAST(COUNT(*) AS BIGINT)
        FROM nation WHERE n_nationkey >= 12
        ORDER BY community
    """


def ext_stream_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding near-dedup service END-TO-END against a
    declarative oracle: the embeddings table streams in as two
    micro-batches (vec_id < 250, then ≥ 250) through
    streaming/sinks.py::stream_embedding_dedup_pairs — exactly-once
    two-table commits, incremental GEMM per batch — and the final
    pairs table must hash-match DuckDB's plain all-pairs cosine ≥ 0.35
    statement (batch-0 internal pairs ∪ batch-1-involving pairs = all
    pairs). A streaming pipeline whose accumulated state equals a
    one-shot SQL query IS the exactly-once + incremental-correctness
    proof, driver-checked."""
    from mitoscape_spark.streaming.sinks import stream_embedding_dedup_pairs

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return _run_two_batch_stream_service(
        spark,
        emb,
        "vec_id",
        lambda stream, root: stream_embedding_dedup_pairs(
            stream, f"{root}/corpus", f"{root}/pairs", f"{root}/ckpt",
            threshold=0.35,
        ),
        lambda pairs: pairs.orderBy("id_a", "id_b"),
        "id_a long, id_b long, cos double",
    )


ORACLE["ext_stream_embedding_dedup"] = ORACLE["ext_embedding_neardup"]


def _stream_drift_oracle_sql() -> str:
    """Per-batch drift reports restated from scratch: for each of the
    two deterministic micro-batches (doc_id < 250 / >= 250), the
    numeric-histogram PSI of n_chars and the categorical PSI of lang
    against the full-corpus reference — the same bin/clamp/epsilon
    arithmetic as the ext_drift_psi / ext_drift_categorical oracles,
    parameterized by the batch predicate."""
    blocks = []
    for b, cond in ((0, "doc_id < 250"), (1, "doc_id >= 250")):
        blocks.append(f"""
        SELECT {b} AS batch_id, col_name, psi FROM (
            WITH refm AS (
                SELECT CAST(n_chars AS DOUBLE) AS value FROM documents
                WHERE n_chars IS NOT NULL
            ), edges AS (
                SELECT MIN(value) AS lo, MAX(value) AS hi FROM refm
            ), rb AS (
                SELECT CASE WHEN (e.hi - e.lo) / 10 <= 0 THEN 0
                            ELSE CAST(LEAST(GREATEST(FLOOR(
                                (r.value - e.lo) / ((e.hi - e.lo) / 10)),
                                0), 9) AS INT) END AS bin,
                       COUNT(*) AS n_ref
                FROM refm r CROSS JOIN edges e GROUP BY 1
            ), cm AS (
                SELECT CAST(n_chars AS DOUBLE) AS value FROM documents
                WHERE ({cond}) AND n_chars IS NOT NULL
            ), cb AS (
                SELECT CASE WHEN (e.hi - e.lo) / 10 <= 0 THEN 0
                            ELSE CAST(LEAST(GREATEST(FLOOR(
                                (c.value - e.lo) / ((e.hi - e.lo) / 10)),
                                0), 9) AS INT) END AS bin,
                       COUNT(*) AS n_cur
                FROM cm c CROSS JOIN edges e GROUP BY 1
            ), j AS (
                SELECT COALESCE(rb.bin, cb.bin) AS bin,
                       COALESCE(n_ref, 0) AS n_ref,
                       COALESCE(n_cur, 0) AS n_cur
                FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin
            ), t AS (
                SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM j
            ), rc AS (
                SELECT COALESCE(CAST(lang AS VARCHAR), ' __null__')
                           AS value,
                       COUNT(*) AS n_ref
                FROM documents GROUP BY 1
            ), cc AS (
                SELECT COALESCE(CAST(lang AS VARCHAR), ' __null__')
                           AS value,
                       COUNT(*) AS n_cur
                FROM documents WHERE ({cond}) GROUP BY 1
            ), cj AS (
                SELECT COALESCE(n_ref, 0) AS n_ref,
                       COALESCE(n_cur, 0) AS n_cur
                FROM rc FULL OUTER JOIN cc ON rc.value = cc.value
            ), ct AS (
                SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM cj
            )
            SELECT 'n_chars' AS col_name,
                   ROUND(SUM(
                       (GREATEST(n_cur / t.tc, 1e-6)
                        - GREATEST(n_ref / t.tr, 1e-6))
                       * LN(GREATEST(n_cur / t.tc, 1e-6)
                            / GREATEST(n_ref / t.tr, 1e-6))
                   ), 6) AS psi
            FROM j CROSS JOIN t
            UNION ALL
            SELECT 'lang',
                   ROUND(SUM(
                       (GREATEST(n_cur / ct.tc, 1e-6)
                        - GREATEST(n_ref / ct.tr, 1e-6))
                       * LN(GREATEST(n_cur / ct.tc, 1e-6)
                            / GREATEST(n_ref / ct.tr, 1e-6))
                   ), 6)
            FROM cj CROSS JOIN ct
        )""")
    joined = " UNION ALL ".join(blocks)
    return f"""
        SELECT batch_id, col_name, psi FROM ({joined})
        ORDER BY batch_id, col_name
    """


def ext_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift-monitor service END-TO-END
    (streaming/sinks.py::stream_drift_monitor): documents stream in as
    two micro-batches, each batch PSI-scored against the frozen
    full-corpus baseline — numeric n_chars through histogram bins,
    categorical lang through value frequencies — and the per-batch
    reports accumulate exactly-once into one snapshot table. The
    DuckDB oracle restates BOTH per-batch reports from scratch
    (identical bin/clamp/epsilon arithmetic), so a single driver check
    covers the service protocol AND the mixed-dtype drift math."""
    from mitoscape_spark.streaming.sinks import stream_drift_monitor

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return _run_two_batch_stream_service(
        spark,
        docs,
        "doc_id",
        lambda stream, root: stream_drift_monitor(
            stream, docs, f"{root}/pairs", f"{root}/ckpt",
            cols=["lang", "n_chars"],
        ),
        lambda report: report.orderBy("batch_id", "col_name"),
        "batch_id long, col_name string, psi double",
    )


ORACLE["ext_stream_drift"] = _stream_drift_oracle_sql()


def _run_two_batch_stream_service(
    spark: SparkSession,
    source: DataFrame,
    split_col: str,
    start_service,
    result_select,
    result_schema: str,
):
    """Shared scaffolding for the streaming-service oracle queries:
    write ``source`` as two micro-batch files split at id 250, run
    ``start_service(stream, root)`` to completion, and collect
    ``result_select(pairs_snapshot_df)`` BEFORE the tempdir vanishes
    (the snapshot read resolves real files under it)."""
    import os
    import tempfile

    from mitoscape_spark.sources import snapshots as snap

    with tempfile.TemporaryDirectory(prefix="stream_svc_") as root:
        stream_dir = f"{root}/in"
        source.where(F.col(split_col) < 250).coalesce(1).write.parquet(
            os.path.join(stream_dir, "b0")
        )
        source.where(F.col(split_col) >= 250).coalesce(1).write.parquet(
            os.path.join(stream_dir, "b1")
        )
        stream = (
            spark.readStream.schema(source.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(stream_dir)
        )
        q = start_service(stream, root)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = result_select(snap.read(spark, f"{root}/pairs")).collect()
    return spark.createDataFrame(rows, result_schema)


def ext_stream_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LSH near-dedup service END-TO-END against the
    declarative MinHash oracle (the text twin of
    ext_stream_embedding_dedup): documents stream in as two
    micro-batches through streaming/sinks.py::stream_dedup_pairs,
    and the service's accumulated pairs table must hash-match
    DuckDB's from-scratch banded-MinHash restatement — exactly-once
    commits + the incremental band-index probe proven equal to the
    one-shot computation in a single driver check.

    ``max_bucket_size=None``: the declared contract is exact equality
    with the uncapped all-pairs SQL, so the hot-bucket star cap must
    be OFF here (with the cap, equality would hold only while no
    bucket exceeds the cap — true of this corpus by accident, not by
    contract; capped operation is pinned separately by the
    star-cap/crash-replay tests)."""
    from mitoscape_spark.streaming.sinks import stream_dedup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _run_two_batch_stream_service(
        spark,
        docs,
        "doc_id",
        lambda stream, root: stream_dedup_pairs(
            stream, f"{root}/index", f"{root}/pairs", f"{root}/ckpt",
            max_bucket_size=None,
        ),
        lambda pairs: pairs.select("doc_a", "doc_b")
        .distinct()
        .orderBy("doc_a", "doc_b"),
        "doc_a long, doc_b long",
    )


ORACLE["ext_stream_text_dedup"] = ORACLE["ext_minhash_pairs"]


def ext_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding near-dup (operators/dedup.py::
    incremental_embedding_pairs): pairs ≥ 0.35 INVOLVING the new batch
    (vec_id ≥ 300) against the standing corpus (vec_id < 300) — the
    embedding twin of the incremental MinHash service: the daily
    increment GEMMs against corpus blocks (linear in corpus), never
    corpus×corpus. The oracle states the delta directly: all-pairs
    cosine where at least one endpoint is new."""
    from mitoscape_spark.operators.dedup import incremental_embedding_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300)
    return incremental_embedding_pairs(
        corpus, batch, threshold=0.35
    ).orderBy("id_a", "id_b")


ORACLE["ext_incremental_embedding"] = """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 6) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE (a.vec_id >= 300 OR b.vec_id >= 300)
          AND ROUND(list_cosine_similarity(
                  CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
        ORDER BY id_a, id_b
    """


def ext_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN JOIN (operators/similarity.py::knn_join): the top-5
    cosine neighbors for EVERY embedding row — the build-the-graph
    primitive behind ε-dedup, retrieval-augmentation neighbor tables
    and embedding-graph propagation. Blocked B² GEMM with a
    rounding-margin partial top-k per task; the oracle brute-forces
    all n² cosines and ranks with the same (round-6 DESC, nbr)
    deterministic order, so the hash match proves the blocked partial
    selection loses nothing."""
    from mitoscape_spark.operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join(emb, k=5).orderBy(
        "id", F.col("cos").desc(), "nbr"
    )


ORACLE["ext_knn_join"] = """
        WITH pairs AS (
            SELECT a.vec_id AS id, b.vec_id AS nbr,
                   ROUND(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 6) AS cos
            FROM embeddings a JOIN embeddings b
              ON a.vec_id <> b.vec_id
        ), ranked AS (
            SELECT id, nbr, cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY id ORDER BY cos DESC, nbr
                   ) AS rk
            FROM pairs
        )
        SELECT id, nbr, cos FROM ranked WHERE rk <= 5
        ORDER BY id, cos DESC, nbr
    """


def ext_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN join through the IVF coarse quantizer
    (operators/similarity.py::knn_join_ivf) — the subquadratic scale
    path next to the exact ext_knn_join (candidates from a cell-id
    equi-join instead of a B² GEMM). Rows-only (the quantizer is
    iterative k-means); recall vs the exact join is pinned in
    tests/test_operators.py."""
    from mitoscape_spark.operators.similarity import IVFFlatIndex, knn_join_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IVFFlatIndex(n_centroids=8, n_probe=4).fit(emb)
    return knn_join_ivf(emb, k=5, index=idx).orderBy(
        "id", F.col("cos").desc(), "nbr"
    )


def ext_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN auto-labeling (operators/similarity.py::knn_classify):
    every 10th vector plays an unlabeled probe set and receives the
    majority label of its 10 exact nearest labeled neighbors — the
    weak-supervision / label-propagation step of embedding pipelines.
    Small-queries × huge-corpus shape: the probe set broadcasts as one
    packed row, corpus blocks stream through a per-task GEMM. The
    oracle brute-forces all query×corpus cosines, takes the same
    deterministic (round-6 DESC, nbr) top-10 and the same
    (votes DESC, label) vote tie-break — hash match proves the blocked
    candidate selection AND the vote logic end-to-end."""
    from mitoscape_spark.operators.similarity import knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    probes = emb.where(F.col("vec_id") % 10 == 0)
    return knn_classify(corpus, probes, k=10).orderBy("qid")


ORACLE["ext_knn_classify"] = """
        WITH q AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id % 10 = 0
        ), c AS (
            SELECT vec_id AS nbr, label,
                   CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id % 10 != 0
        ), scored AS (
            SELECT qid, nbr, label,
                   ROUND(list_cosine_similarity(cv, qv), 6) AS cos
            FROM q, c WHERE qid <> nbr
        ), ranked AS (
            SELECT qid, label,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY cos DESC, nbr
                   ) AS rk
            FROM scored
        ), votes AS (
            SELECT qid, label, COUNT(*) AS votes
            FROM ranked WHERE rk <= 10 GROUP BY qid, label
        ), winner AS (
            SELECT qid, label AS pred_label, votes,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY votes DESC, label
                   ) AS vr
            FROM votes
        )
        SELECT qid, pred_label, votes FROM winner WHERE vr = 1
        ORDER BY qid
    """


def ext_textnorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style dedup-grade text normalization
    (functions/textnorm.py::normalize_for_dedup): lowercase →
    punctuation strip → digit folding → whitespace collapse, as one
    JVM regex column expression. The oracle restates the identical
    pipeline (TEXTNORM_SQL), so the hash match pins every step and
    its ORDER (punct before digits before whitespace) cross-engine —
    plus the dedup payoff readout: distinct normalized texts vs
    distinct raw texts."""
    from mitoscape_spark.functions.textnorm import normalize_for_dedup

    docs = load_table(spark, sf_dir, "documents")
    normed = docs.select(
        "doc_id", normalize_for_dedup("text").alias("norm_text")
    )
    return normed.orderBy("doc_id")


# built from the module's own TEXTNORM_SQL constant — the single
# source of truth the normalizer keeps adjacent to its Spark
# expression; restating the regexes here would reintroduce the
# drift the constant exists to prevent
ORACLE["ext_textnorm"] = f"""
        SELECT doc_id, {_TEXTNORM} AS norm_text
        FROM documents ORDER BY doc_id
    """


def ext_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle-set CONTAINMENT ≥ 0.8 pairs
    (operators/dedup.py::ngram_containment_pairs) — catches a short
    document quoted inside a long one, which Jaccard structurally
    misses (|A∩B|/|A∪B| collapses as the size ratio grows). Exact via
    the asymmetric prefix filter: prefix(smaller) ⋈ full postings; the
    oracle restates containment with a plain shingle self-join, so the
    hash match proves the prefix pruning loses nothing."""
    from mitoscape_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, threshold=0.8).orderBy(
        "doc_a", "doc_b"
    )


ORACLE["ext_containment"] = f"""
        WITH {_TOKS}, {_SHINGLES3},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(i * 1.0 / LEAST(na.n, nb.n), 6) AS containment
        FROM inter
        JOIN sizes na ON na.doc_id = inter.doc_a
        JOIN sizes nb ON nb.doc_id = inter.doc_b
        WHERE ROUND(i * 1.0 / LEAST(na.n, nb.n), 6) >= 0.8
        ORDER BY doc_a, doc_b
    """


def ext_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-level leakage-safe splits (operators/sampling.py::
    leakage_safe_splits): MinHash-LSH near-dup pairs → connected
    components → the COMPONENT key (not the row key) hashes into the
    80/20 bands, so no near-copy pair straddles train/test. The
    readout is driver-checkable: n_docs matches the table count
    (every row assigned), straddling_pairs is 0 by construction, and
    both splits are populated — any leak or dropped row flips a value
    and hash-mismatches."""
    from mitoscape_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )
    from mitoscape_spark.operators.sampling import leakage_safe_splits

    docs = load_table(spark, sf_dir, "documents")
    # pin: the pair set feeds BOTH the component labeling and the
    # straddle audit below — without it the MinHash banding lineage
    # (~3 s at sf0.1) executes twice (round-7)
    pairs = minhash_candidate_pairs(minhash_signatures(docs)).transform(pin)
    # §20 pin: the assignment feeds BOTH straddle-audit sides AND the
    # stats agg — without it the CC labeling over the pair graph runs
    # three times
    assigned = (
        leakage_safe_splits(docs, pairs, {"train": 0.8, "test": 0.2})
        .select("doc_id", "split")
        .transform(pin)
    )
    sa = assigned.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("_spl_a")
    )
    sb = assigned.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("_spl_b")
    )
    straddle = (
        pairs.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(
            F.coalesce(
                F.sum((F.col("_spl_a") != F.col("_spl_b")).cast("int")),
                F.lit(0),
            ).cast("long").alias("straddling_pairs")
        )
    )
    stats = assigned.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.count_distinct("split") == 2).cast("int").alias("both_splits"),
    )
    return stats.join(straddle, F.lit(True))


ORACLE["ext_leakage_safe_split"] = """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               1 AS both_splits,
               CAST(0 AS BIGINT) AS straddling_pairs
        FROM documents
    """


def ext_pagerank_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank against a SQL-stateable ground truth (round 4 — the
    driver-checkable companion to the rows-only ext_pagerank): on a
    directed ring over the nation keys (k → (k+1) mod 25; out-degree 1
    everywhere, no dangling mass) the uniform vector is the EXACT
    fixed point — new = (1−d)/n + d·(1/n)/1 = 1/n every iteration —
    so after any number of rounds every rank is 1/25, and the oracle
    states it literally. Pins the iterative loop's contribution join,
    dangling handling, and teleport arithmetic in one hash match."""
    from mitoscape_spark.operators.graph import pagerank

    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k")
    )
    edges = n.select(
        F.col("k").alias("src"), ((F.col("k") + 1) % 25).alias("dst")
    )
    return (
        pagerank(edges, damping=0.85, max_iter=20)
        .select(
            F.col("id").cast("long").alias("id"),
            F.round("rank", 6).alias("rank"),
        )
        .orderBy("id")
    )


ORACLE["ext_pagerank_ring"] = """
        SELECT CAST(n_nationkey AS BIGINT) AS id, 0.04 AS rank
        FROM nation ORDER BY id
    """


def ext_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector deletes (sources/snapshots.py::delete_where_dv):
    tombstone commit (no data rewrite), a re-insert of tombstoned keys
    that stays invisible, then compaction materializing the vectors.
    Per-version read()s; oracle restates each version's membership
    predicate. Key-scoped DV semantics on purpose — see docstring."""
    import tempfile

    from mitoscape_spark.sources import snapshots as snap

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    with tempfile.TemporaryDirectory(prefix="snap_dv_") as root:
        t = f"{root}/docs"
        snap.commit(docs, t)
        snap.delete_where_dv(spark, t, "doc_id % 7 = 0", key_col="doc_id")
        # re-insert SOME tombstoned keys: invisible until a rewrite
        snap.commit(
            docs.where((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 2 == 0)),
            t,
        )
        snap.compact(spark, t, target_partitions=1)
        per_version = [
            snap.read(spark, t, version=v)
            .agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("sum_doc_id"),
            )
            for v in (1, 2, 3, 4)
        ]
        out = per_version[0]
        for df in per_version[1:]:
            out = out.unionByName(df)
        rows = out.orderBy("version").collect()
    return spark.createDataFrame(
        rows, "version int, n_docs bigint, sum_doc_id bigint"
    )


ORACLE["ext_delete_vectors"] = """
        WITH t AS (
            SELECT 1 AS version, COUNT(*) AS n_docs,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
            FROM documents
            UNION ALL
            SELECT 2, COUNT(*), CAST(SUM(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT 3, COUNT(*), CAST(SUM(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT 4, COUNT(*), CAST(SUM(doc_id) AS BIGINT)
            FROM documents WHERE doc_id % 7 <> 0
        )
        SELECT * FROM t ORDER BY version
    """


def ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composition (operators/clustering.py::semantic_dedup):
    k-means cells → per-cell exact cosine GEMM → components →
    keep-min-id. Rows-only (clustering step); the pair math and the
    keep-set policy are pinned by union-find equivalence tests."""
    from mitoscape_spark.operators.clustering import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    # synthetic embeddings are near-orthogonal (max pairwise cosine
    # ≈ 0.51, see ext_embedding_neardup) — 0.35 keeps the drop set
    # non-empty
    return (
        semantic_dedup(emb, k=8, threshold=0.35)
        .select("vec_id")
        .orderBy("vec_id")
    )


def ext_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change feed over a snapshot table
    (sources/snapshots.py::table_changes): append, append, row-level
    delete, compact — then the per-transition feed. The manifest diff
    reads only changed directories; rewrite survivors cancel via
    EXCEPT ALL, so the compaction transition is EMPTY and the delete
    transition is exactly its deleted rows. Oracle restates each
    transition's membership predicate."""
    import tempfile

    from mitoscape_spark.sources import snapshots as snap

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    with tempfile.TemporaryDirectory(prefix="snap_cdc_") as root:
        t = f"{root}/docs"
        snap.commit(docs.where(F.col("doc_id") % 4 < 2), t)
        snap.commit(docs.where(F.col("doc_id") % 4 == 2), t)
        snap.delete_where(spark, t, "doc_id % 8 = 0")
        snap.compact(spark, t, target_partitions=1)
        per_transition = [
            snap.table_changes(spark, t, v - 1, v)
            .groupBy("_change_type")
            .agg(
                F.lit(v).alias("to_version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("doc_id").alias("sum_doc_id"),
            )
            for v in (1, 2, 3, 4)
        ]
        out = per_transition[0]
        for df in per_transition[1:]:
            out = out.unionByName(df)
        rows = out.select(
            "to_version", "_change_type", "n_rows", "sum_doc_id"
        ).orderBy("to_version", "_change_type").collect()
    return spark.createDataFrame(
        rows,
        "to_version int, _change_type string, n_rows bigint,"
        " sum_doc_id bigint",
    )


ORACLE["ext_table_changes"] = """
    WITH t AS (
        SELECT 1 AS to_version, 'insert' AS _change_type,
               COUNT(*) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
        FROM documents WHERE doc_id % 4 < 2
        UNION ALL
        SELECT 2, 'insert', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
        FROM documents WHERE doc_id % 4 = 2
        UNION ALL
        SELECT 3, 'delete', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
        FROM documents WHERE doc_id % 8 = 0
    )
    SELECT * FROM t ORDER BY to_version, _change_type
"""


def _zorder_oracle_expr(n_bits: int = 8) -> str:
    """DuckDB bit-interleave expression mirroring layout.interleave_bits
    (b1 = first column's bucket → odd bit positions)."""
    terms = []
    for i in range(n_bits):
        terms.append(f"(((b1 >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((b2 >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


def ext_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) clustering key over (o_custkey, o_totalprice):
    the multi-column data-skipping layout key, computed entirely as
    JVM bit-arithmetic expressions (sources/layout.py). Returned in
    curve order — the exact order a layout rewrite would range-
    partition on."""
    from mitoscape_spark.sources.layout import zorder_key

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return (
        zorder_key(orders, ["o_custkey", "o_totalprice"], n_bits=8)
        .select("o_orderkey", "zval")
        .orderBy("zval", "o_orderkey")
        .limit(1000)
    )


ORACLE["ext_zorder"] = f"""
        WITH stats AS (
            SELECT MIN(o_custkey) AS min1, MAX(o_custkey) AS max1,
                   MIN(o_totalprice) AS min2, MAX(o_totalprice) AS max2
            FROM orders
        ),
        b AS (
            SELECT o_orderkey,
                   LEAST(GREATEST(CAST(FLOOR(
                       (CAST(o_custkey AS DOUBLE) - min1)
                       / (CASE WHEN max1 - min1 > 0
                               THEN CAST(max1 - min1 AS DOUBLE)
                               ELSE 1.0 END) * 256) AS BIGINT),
                       0), 255) AS b1,
                   LEAST(GREATEST(CAST(FLOOR(
                       (o_totalprice - min2)
                       / (CASE WHEN max2 - min2 > 0
                               THEN max2 - min2 ELSE 1.0 END) * 256)
                       AS BIGINT), 0), 255) AS b2
            FROM orders, stats
        )
        SELECT o_orderkey, CAST({_zorder_oracle_expr(8)} AS BIGINT) AS zval
        FROM b ORDER BY zval, o_orderkey LIMIT 1000
    """


def ext_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard pairs via PPJoin-style positional prefix filtering:
    only each doc's n-ceil(t*n)+1 rarest shingles are posted;
    candidates verify against bounded per-doc shingle arrays. Same
    oracle as the full-index variant - the prefix principle guarantees
    IDENTICAL results, so the hash check proves completeness
    end-to-end."""
    from mitoscape_spark.operators.dedup import ngram_jaccard_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_prefix(docs, threshold=0.1).orderBy(
        "doc_a", "doc_b"
    )


ORACLE["ext_jaccard_prefix"] = ORACLE["ext_ngram_jaccard"]


def ext_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event value over time via the SQL:2016
    regression aggregates (regr_slope/intercept/r2) — grouped OLS as
    ONE hash aggregation (JVM partial+final), no per-group Python, no
    window. The declarative answer to 'fit a line per key'."""
    events = load_table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC, so the ltz hop is
    # exact and cast-to-double yields fractional epoch seconds
    x_days = F.col("ts").cast("timestamp").cast("double") / 86400.0
    pts = events.select(
        "user_id", x_days.alias("x"), F.col("value").alias("y")
    )
    return (
        pts.groupBy("user_id")
        .agg(
            F.round(F.expr("regr_slope(y, x)"), 6).alias("slope"),
            F.round(F.expr("regr_intercept(y, x)"), 4).alias("intercept"),
            F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


ORACLE["ext_user_trend"] = """
        WITH pts AS (
            SELECT user_id,
                   epoch(CAST(ts AS TIMESTAMP)) / 86400.0 AS x,
                   value AS y
            FROM events
        )
        SELECT user_id,
               ROUND(regr_slope(y, x), 6) AS slope,
               ROUND(regr_intercept(y, x), 4) AS intercept,
               ROUND(regr_r2(y, x), 6) AS r2,
               COUNT(*) AS n
        FROM pts GROUP BY user_id ORDER BY user_id
    """


def ext_bpe_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE end-to-end: corpus → word-frequency table (one
    distributed agg) → greedy merge learning on vocab-sized state →
    distributed encode with the learned ranks. Rows-only (the merge
    loop isn't SQL-expressible); learning/encoding semantics pinned in
    tests/test_bpe.py."""
    from mitoscape_spark.operators.bpe import bpe_apply, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=30)
    return (
        bpe_apply(docs, merges)
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.element_at("tokens", 1).alias("first_token"),
        )
        .orderBy("doc_id")
    )


def ext_bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE learner's core scoring step against a SQL ground truth
    (round 4 — driver-checkable companion to the rows-only
    ext_bpe_learned): the FIRST learned merge is the argmax over
    frequency-weighted adjacent symbol pairs (count desc, pair asc →
    python max picks the lexicographically LARGEST pair on count
    ties), which DuckDB restates as one unnest + aggregate + ORDER BY.
    Runs the real operator code path: distributed word-frequency agg →
    greedy loop, one iteration."""
    from mitoscape_spark.operators.bpe import learn_merges, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_merges(word_frequencies(docs), n_merges=1)
    return spark.createDataFrame(
        [(a, b) for a, b in merges], "pair_a string, pair_b string"
    )


ORACLE["ext_bpe_first_merge"] = """
        WITH words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
                SELECT UNNEST(regexp_split_to_array(lower(text), '\\s+'))
                    AS w
                FROM documents
            ) WHERE w <> '' GROUP BY w
            ORDER BY n DESC, w LIMIT 50000
        ), prs AS (
            -- word symbols are chars + an '</w>' end marker; adjacent
            -- pair at position i pairs char i with char i+1 (or the
            -- marker after the last char)
            SELECT substr(w, i, 1) AS a,
                   CASE WHEN i < len(w) THEN substr(w, i + 1, 1)
                        ELSE '</w>' END AS b,
                   n
            FROM words, UNNEST(generate_series(1, len(w))) AS t(i)
        )
        SELECT a AS pair_a, b AS pair_b
        FROM prs GROUP BY a, b
        -- learner stopping rule: a pair seen fewer than twice is
        -- memorization, not a merge (learn_merges breaks BEFORE
        -- emitting it) — without this the oracle would return a row
        -- on a no-repeats corpus where Spark returns none
        HAVING SUM(n) >= 2
        ORDER BY SUM(n) DESC, a DESC, b DESC
        LIMIT 1
    """


def ext_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style daily rollup with gap filling: per-user daily
    sums over the global date span, missing days zero-filled. The
    spine comes from one broadcast min/max agg; the join shuffles the
    reduced rollup, not raw events (operators/timeseries.py)."""
    from mitoscape_spark.operators.timeseries import daily_gapfill

    events = load_table(spark, sf_dir, "events")
    return (
        daily_gapfill(events, fill="zero")
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "day")
    )


ORACLE["ext_gapfill"] = """
        WITH bounds AS (
            SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS lo,
                   CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS hi
            FROM events
        ),
        spine AS (
            SELECT u.user_id, CAST(g.d AS DATE) AS day
            FROM (SELECT DISTINCT user_id FROM events) u
            CROSS JOIN bounds
            CROSS JOIN UNNEST(generate_series(
                CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                INTERVAL 1 DAY)) AS g(d)
        ),
        daily AS (
            SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   ROUND(SUM(value), 4) AS total
            FROM events GROUP BY 1, 2
        )
        SELECT s.user_id, s.day, COALESCE(d.total, 0.0) AS total
        FROM spine s LEFT JOIN daily d
        ON s.user_id = d.user_id AND s.day = d.day
        ORDER BY s.user_id, s.day
    """


def ext_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling with LINEAR interpolation (TimescaleDB
    ``interpolate()`` semantics): missing days blend the surrounding
    observed days day-weighted; null outside a user's observed range.
    Same spine/join plan as ext_gapfill plus two window passes over
    the (tiny) filled series."""
    from mitoscape_spark.operators.timeseries import daily_gapfill

    events = load_table(spark, sf_dir, "events")
    return (
        daily_gapfill(events, fill="linear")
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "day")
    )


ORACLE["ext_gapfill_linear"] = """
        WITH bounds AS (
            SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS lo,
                   CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS hi
            FROM events
        ),
        spine AS (
            SELECT u.user_id, CAST(g.d AS DATE) AS day
            FROM (SELECT DISTINCT user_id FROM events) u
            CROSS JOIN bounds
            CROSS JOIN UNNEST(generate_series(
                CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                INTERVAL 1 DAY)) AS g(d)
        ),
        daily AS (
            SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   ROUND(SUM(value), 4) AS total
            FROM events GROUP BY 1, 2
        ),
        j AS (
            SELECT s.user_id, s.day, d.total
            FROM spine s LEFT JOIN daily d
            ON s.user_id = d.user_id AND s.day = d.day
        ),
        x AS (
            SELECT user_id, day, total,
                   last_value(total IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS pv,
                   last_value(CASE WHEN total IS NOT NULL THEN day END
                              IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS pd,
                   first_value(total IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS nv,
                   first_value(CASE WHEN total IS NOT NULL THEN day END
                               IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS nd
            FROM j
        )
        SELECT user_id, day,
               CASE WHEN total IS NOT NULL THEN total
                    ELSE ROUND(pv + (nv - pv)
                               * date_diff('day', pd, day) * 1.0
                               / date_diff('day', pd, nd), 4) END AS total
        FROM x ORDER BY user_id, day
    """


def ext_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction: WAV payloads (generated distributed,
    deterministic per doc_id) → framed rFFT → log band energies via
    Arrow-batched mapInPandas. Rows-only check (FFT isn't
    SQL-expressible); the sine-peak localization property is pinned in
    tests/test_operators.py."""
    from mitoscape_spark.sources.multimodal import (
        audio_spectral_features,
        synthetic_decodable_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_decodable_media(spark, docs).where(
        F.col("modality") == "audio"
    )
    feats = audio_spectral_features(media)
    return feats.select(
        "media_id",
        "n_frames",
        F.round(F.element_at("band_energy", 1), 4).alias("band0"),
        F.size("band_energy").alias("n_bands"),
    ).orderBy("media_id")


def ext_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (signup → view → click → purchase):
    k cascaded per-user min-timestamp stages, strictly-increasing
    times; per-stage state is one row per converted user
    (operators/funnel.py)."""
    from mitoscape_spark.operators.funnel import funnel_counts

    events = load_table(spark, sf_dir, "events")
    return funnel_counts(
        events, ["signup", "view", "click", "purchase"]
    ).orderBy("step_idx")


ORACLE["ext_funnel"] = """
        WITH e AS (
            SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t, event_type AS s
            FROM events
        ),
        s0 AS (
            SELECT u, MIN(t) AS tp FROM e
            WHERE s = 'signup' AND u IS NOT NULL GROUP BY u
        ),
        s1 AS (
            SELECT e.u, MIN(e.t) AS tp FROM e JOIN s0 ON e.u = s0.u
            WHERE e.s = 'view' AND e.t > s0.tp GROUP BY e.u
        ),
        s2 AS (
            SELECT e.u, MIN(e.t) AS tp FROM e JOIN s1 ON e.u = s1.u
            WHERE e.s = 'click' AND e.t > s1.tp GROUP BY e.u
        ),
        s3 AS (
            SELECT e.u, MIN(e.t) AS tp FROM e JOIN s2 ON e.u = s2.u
            WHERE e.s = 'purchase' AND e.t > s2.tp GROUP BY e.u
        ),
        counts AS (
            SELECT 0 AS step_idx, 'signup' AS step,
                   (SELECT COUNT(*) FROM s0) AS n_users
            UNION ALL SELECT 1, 'view', (SELECT COUNT(*) FROM s1)
            UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
            UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
        )
        SELECT step_idx, step, n_users,
               ROUND(n_users * 1.0 / FIRST_VALUE(n_users)
                     OVER (ORDER BY step_idx), 6) AS frac_of_first
        FROM counts ORDER BY step_idx
    """


def ext_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel (complete within 24h of entry): one chain
    per (user, entry event) — the semantics greedy-from-first gets
    wrong under a window (proved in tests)."""
    from mitoscape_spark.operators.funnel import funnel_counts_windowed

    events = load_table(spark, sf_dir, "events")
    return funnel_counts_windowed(
        events, ["signup", "view", "click"], max_span_seconds=86400
    ).orderBy("step_idx")


ORACLE["ext_funnel_windowed"] = """
        WITH e AS (
            SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t, event_type AS s
            FROM events
        ),
        c0 AS (
            SELECT u, t AS t0, t AS tp FROM e WHERE s = 'signup'
        ),
        c1 AS (
            SELECT e.u, c0.t0, MIN(e.t) AS tp
            FROM e JOIN c0 ON e.u = c0.u
            WHERE e.s = 'view' AND e.t > c0.tp
              AND e.t <= c0.t0 + INTERVAL 1 DAY
            GROUP BY e.u, c0.t0
        ),
        c2 AS (
            SELECT e.u, c1.t0, MIN(e.t) AS tp
            FROM e JOIN c1 ON e.u = c1.u
            WHERE e.s = 'click' AND e.t > c1.tp
              AND e.t <= c1.t0 + INTERVAL 1 DAY
            GROUP BY e.u, c1.t0
        ),
        counts AS (
            SELECT 0 AS step_idx, 'signup' AS step,
                   (SELECT COUNT(DISTINCT u) FROM c0) AS n_users
            UNION ALL SELECT 1, 'view', (SELECT COUNT(DISTINCT u) FROM c1)
            UNION ALL SELECT 2, 'click', (SELECT COUNT(DISTINCT u) FROM c2)
        )
        SELECT step_idx, step, n_users,
               ROUND(n_users * 1.0 / FIRST_VALUE(n_users)
                     OVER (ORDER BY step_idx), 6) AS frac_of_first
        FROM counts ORDER BY step_idx
    """


def ext_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality readout: precision/recall/F1 of the MinHash-LSH
    candidate pairs against exact Jaccard ≥ 0.2 truth — measurement
    itself as a distributed query (set semi-join, three 1-row aggs),
    no driver-side pair sets."""
    from mitoscape_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        pair_metrics,
    )

    docs = load_table(spark, sf_dir, "documents")
    predicted = minhash_candidate_pairs(minhash_signatures(docs))
    truth = ngram_jaccard_pairs(docs, threshold=0.2).select(
        "doc_a", "doc_b"
    )
    return pair_metrics(predicted, truth)


ORACLE["ext_dedup_eval"] = f"""
        WITH {_TOKS}, {_SHINGLES3},
        sig AS (
            SELECT doc_id, seed,
                   MIN(md5(concat(CAST(seed AS VARCHAR), '|', shingle))) AS minhash
            FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, seed // 2 AS band,
                   string_agg(minhash, ',' ORDER BY seed) AS band_key
            FROM sig GROUP BY doc_id, seed // 2
        ),
        predicted AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2
        ),
        hit AS (
            SELECT doc_a, doc_b FROM predicted
            INTERSECT SELECT doc_a, doc_b FROM truth
        ),
        c AS (
            SELECT (SELECT COUNT(*) FROM predicted) AS n_predicted,
                   (SELECT COUNT(*) FROM truth) AS n_truth,
                   (SELECT COUNT(*) FROM hit) AS n_hit
        )
        SELECT n_predicted, n_truth, n_hit,
               ROUND(n_hit * 1.0 / GREATEST(n_predicted, 1), 6) AS precision,
               ROUND(n_hit * 1.0 / GREATEST(n_truth, 1), 6) AS recall,
               ROUND(2 * (n_hit * 1.0 / GREATEST(n_predicted, 1))
                       * (n_hit * 1.0 / GREATEST(n_truth, 1))
                     / GREATEST(n_hit * 1.0 / GREATEST(n_predicted, 1)
                                + n_hit * 1.0 / GREATEST(n_truth, 1),
                                1e-12), 6) AS f1
        FROM c
    """


def _pagerank_oracle_sql(n_iter: int = 30, damping: float = 0.85) -> str:
    """Unrolled power iteration for ext_pagerank: one chained CTE per
    round, each restating EXACTLY the Spark expression —
    (1-d)/n + d*(inflow + dangling/n) with inflow = Σ rank/outdeg over
    in-edges and dangling = rank mass of out-degree-0 nodes from the
    PREVIOUS round. tol=0 on the Spark side fixes the iteration count,
    so the two engines run the identical float recurrence (subtraction
    written as ``1.0 - 0.85``, not ``0.15`` — Python computes the lit
    the same way, and 1.0-0.85 != 0.15 in IEEE doubles)."""
    its = []
    for k in range(1, n_iter + 1):
        its.append(f"""
        it{k} AS MATERIALIZED (
            SELECT nd.id,
                   (1.0 - {damping})/nn.n
                   + {damping} * (COALESCE(inf.inflow, 0.0) + dang.m/nn.n)
                   AS rank
            FROM nodes nd
            CROSS JOIN nn
            LEFT JOIN (
                SELECT e.d AS id, SUM(r.rank / od.deg) AS inflow
                FROM e JOIN it{k - 1} r ON e.s = r.id
                       JOIN od ON od.s = e.s
                GROUP BY e.d
            ) inf ON inf.id = nd.id
            CROSS JOIN (
                SELECT COALESCE(SUM(r.rank), 0.0) AS m FROM it{k - 1} r
                WHERE r.id NOT IN (SELECT s FROM od)
            ) dang
        )""")
    return f"""
        WITH seq AS MATERIALIZED (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS next_type
            FROM events
        ), e AS MATERIALIZED (
            SELECT s, d FROM (
                SELECT s, d, n, AVG(n) OVER () AS mean_n FROM (
                    SELECT event_type AS s, next_type AS d,
                           COUNT(*) AS n
                    FROM seq WHERE next_type IS NOT NULL
                    GROUP BY 1, 2
                )
            ) WHERE n > mean_n
        ), nodes AS MATERIALIZED (
            SELECT DISTINCT id FROM (
                SELECT s AS id FROM e UNION ALL SELECT d FROM e
            )
        ), nn AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
        ), od AS MATERIALIZED (
            SELECT s, COUNT(*) AS deg FROM e GROUP BY s
        ), it0 AS MATERIALIZED (
            SELECT id, 1.0/nn.n AS rank FROM nodes CROSS JOIN nn
        ),{",".join(its)}
        SELECT id, ROUND(rank, 8) AS rank FROM it{n_iter} ORDER BY id
    """


def ext_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (edges from
    per-user consecutive events): distributed power iteration with
    dangling-mass correction and lineage-truncated rounds. tol=0 pins
    the iteration count at exactly 30, which makes the whole run
    SQL-restatable: the DuckDB oracle unrolls the SAME 30 power
    iterations (same init, damping, dangling handling, float
    expression shapes) as chained CTEs — the one former "iterative ⇒
    rows-only" entry that is in fact deterministic enough to oracle.
    General convergence behavior stays pinned by numpy equivalence in
    tests/test_graph.py.

    Edge set: only ABOVE-AVERAGE-frequency transition pairs — the full
    pair matrix is complete (every type follows every type) whose
    PageRank is trivially uniform; thresholding yields an asymmetric
    subgraph with genuinely non-uniform ranks, so the oracle
    discriminates."""
    from pyspark.sql import Window

    from mitoscape_spark.operators.graph import pagerank

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    counts = (
        events.withColumn("_next", F.lead("event_type").over(w))
        .where(F.col("_next").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("_next").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    edges = (
        counts.withColumn(
            "_mean", F.avg("n").over(Window.partitionBy())
        )
        .where(F.col("n") > F.col("_mean"))
        .select("src", "dst")
    )
    return pagerank(edges, max_iter=30, tol=0.0).orderBy("id")


ORACLE["ext_pagerank"] = _pagerank_oracle_sql()


def ext_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of daily event totals, recursion-free: the decay
    sum factors into two cumulative window sums rescaled per row
    (operators/timeseries.py::ewma_daily)."""
    from mitoscape_spark.operators.timeseries import ewma_daily

    events = load_table(spark, sf_dir, "events")
    return (
        ewma_daily(events, decay=0.9)
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "day")
    )


ORACLE["ext_ewma"] = """
        WITH daily AS (
            SELECT user_id AS key,
                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   ROUND(SUM(value), 4) AS total
            FROM events GROUP BY 1, 2
        ),
        t AS (
            SELECT key, day, total,
                   CAST(datediff('day',
                        MIN(day) OVER (PARTITION BY key), day) AS DOUBLE)
                       AS tt
            FROM daily
        )
        SELECT key AS user_id, day, total,
               ROUND(
                   (SUM(total * POW(0.9, -tt)) OVER w * POW(0.9, tt))
                   / (SUM(POW(0.9, -tt)) OVER w * POW(0.9, tt)), 6)
                   AS ewma
        FROM t
        WINDOW w AS (PARTITION BY key ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY user_id, day
    """


def ext_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: blocked+salted fuzzy linkage
    (edit distance 1–3) → large-star/small-star connected components →
    keep the smallest key per entity cluster. The full record-linkage
    pipeline as three engine operators; oracle replays it as a
    recursive-CTE transitive closure over the same levenshtein pairs."""
    from mitoscape_spark.operators.fuzzy import fuzzy_dedup_keep_canonical

    part = load_table(spark, sf_dir, "part")
    # fused text-level path (round 11, guide §8): connectivity is
    # decided on the ≤distinct-name text graph and expanded to ids by
    # one label join — the generic fuzzy_pairs → dedup_keep_canonical
    # composition materializes the O(rows²)-per-linked-pair id edge
    # set (1.5M pairs at sf0.1) only to rediscover the same clusters;
    # equivalence pinned by test_fuzzy_dedup_canonical_matches_generic_path
    return (
        fuzzy_dedup_keep_canonical(part, "p_partkey", "p_name")
        .select("p_partkey")
        .orderBy("p_partkey")
    )


ORACLE["ext_entity_resolution"] = """
        WITH RECURSIVE b AS (
            SELECT p_partkey, p_name,
                   string_split(p_name, ' ')[1] AS blk
            FROM part
        ),
        pairs AS (
            SELECT a.p_partkey AS pa, b2.p_partkey AS pb
            FROM b a JOIN b b2
              ON a.blk = b2.blk AND a.p_partkey < b2.p_partkey
            WHERE levenshtein(a.p_name, b2.p_name) BETWEEN 1 AND 3
        ),
        edges AS (
            SELECT pa AS s, pb AS d FROM pairs
            UNION
            SELECT pb, pa FROM pairs
        ),
        reach AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
            WHERE r.s != e.d
        ),
        comp AS (
            SELECT s AS id, LEAST(s, MIN(d)) AS component
            FROM reach GROUP BY s
        )
        SELECT p_partkey FROM part p
        LEFT JOIN comp c ON p.p_partkey = c.id AND c.id != c.component
        WHERE c.id IS NULL
        ORDER BY p_partkey
    """


def ext_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: events assigned by their USER's
    hash band (80/20), so no user straddles splits — the entity-level
    split ML evaluation needs (row-level splits leak user behavior
    across the boundary). Shuffle-free assignment; the check counts
    rows AND distinct users per split."""
    from mitoscape_spark.operators.sampling import assign_splits

    events = load_table(spark, sf_dir, "events")
    assigned = assign_splits(
        events, "user_id", {"train": 0.8, "test": 0.2}
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("split")
    )


ORACLE["ext_group_split"] = """
        WITH s AS (
            SELECT user_id,
                   CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
                             < 'cccc'
                        THEN 'train' ELSE 'test' END AS split
            FROM events
        )
        SELECT split, COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM s GROUP BY split ORDER BY split
    """


def ext_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion (did the user purchase?)
    between deterministic variants (user_id parity): per-variant
    rates, pooled-variance z statistic — experiment readout as ONE
    aggregation tree, identical closed form on both engines."""
    events = load_table(spark, sf_dir, "events")
    # conversion = heavy purchaser (>=14 purchase events — near the
    # corpus median, so neither variant's rate degenerates to 0 or 1)
    per_user = (
        events.groupBy("user_id")
        .agg(
            (
                F.sum((F.col("event_type") == "purchase").cast("int"))
                >= 14
            )
            .cast("int")
            .alias("converted")
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    by_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").alias("conv"),
    )
    wide = (
        by_variant.groupBy()
        .pivot("variant", [0, 1])
        .agg(F.first("n").alias("n"), F.first("conv").alias("conv"))
    )
    p0 = F.col("0_conv") / F.col("0_n")
    p1 = F.col("1_conv") / F.col("1_n")
    pool = (F.col("0_conv") + F.col("1_conv")) / (
        F.col("0_n") + F.col("1_n")
    )
    se = F.sqrt(
        pool * (1 - pool) * (1 / F.col("0_n") + 1 / F.col("1_n"))
    )
    return wide.select(
        F.col("0_n").alias("n_control"),
        F.col("1_n").alias("n_treat"),
        F.round(p0, 6).alias("rate_control"),
        F.round(p1, 6).alias("rate_treat"),
        F.round((p1 - p0) / se, 6).alias("z_score"),
    )


ORACLE["ext_ab_test"] = """
        WITH per_user AS (
            SELECT user_id,
                   CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 14
                        THEN 1 ELSE 0 END AS converted,
                   CAST(user_id % 2 AS INT) AS variant
            FROM events GROUP BY user_id
        ),
        by_variant AS (
            SELECT variant, COUNT(*) AS n, SUM(converted) AS conv
            FROM per_user GROUP BY variant
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN variant = 0 THEN n END) AS n0,
                MAX(CASE WHEN variant = 0 THEN conv END) AS c0,
                MAX(CASE WHEN variant = 1 THEN n END) AS n1,
                MAX(CASE WHEN variant = 1 THEN conv END) AS c1
            FROM by_variant
        )
        SELECT n0 AS n_control, n1 AS n_treat,
               ROUND(c0 * 1.0 / n0, 6) AS rate_control,
               ROUND(c1 * 1.0 / n1, 6) AS rate_treat,
               ROUND(((c1 * 1.0 / n1) - (c0 * 1.0 / n0))
                     / SQRT(((c0 + c1) * 1.0 / (n0 + n1))
                            * (1 - (c0 + c1) * 1.0 / (n0 + n1))
                            * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
        FROM wide
    """


def ext_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent click strictly before it (one per-user ordered window with
    last(..., ignorenulls) carry-forward — the as-of pattern as a
    window, no join at all)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    return (
        events.withColumn("click_ts", last_click)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_ts",
            F.when(
                F.col("click_ts").isNotNull(),
                (
                    F.col("ts").cast("timestamp").cast("double")
                    - F.col("click_ts").cast("timestamp").cast("double")
                ),
            ).alias("gap_seconds"),
        )
        .orderBy("event_id")
    )


ORACLE["ext_attribution"] = """
        WITH e AS (
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type
            FROM events
        ),
        marked AS (
            SELECT event_id, user_id, ts, event_type,
                   LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END
                              IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS click_ts
            FROM e
        )
        SELECT event_id, user_id, ts AS purchase_ts, click_ts,
               CASE WHEN click_ts IS NOT NULL
                    THEN epoch(ts) - epoch(click_ts) END AS gap_seconds
        FROM marked WHERE event_type = 'purchase' ORDER BY event_id
    """


def ext_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent 3-step event paths (two lead() windows + one
    count) — sequential pattern mining's workhorse query."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    paths = (
        events.withColumn("s2", F.lead("event_type", 1).over(w))
        .withColumn("s3", F.lead("event_type", 2).over(w))
        .where(F.col("s3").isNotNull())
        .select(
            F.concat_ws(
                ">", F.col("event_type"), F.col("s2"), F.col("s3")
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return paths.orderBy(F.col("n").desc(), F.col("path")).limit(20)


ORACLE["ext_top_paths"] = """
        WITH e AS (
            SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_type
            FROM events
        ),
        seq AS (
            SELECT event_type AS s1,
                   LEAD(event_type, 1) OVER w AS s2,
                   LEAD(event_type, 2) OVER w AS s3
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT s1 || '>' || s2 || '>' || s3 AS path, COUNT(*) AS n
        FROM seq WHERE s3 IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """


def ext_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin numeric histogram of order totals: bin ids via the
    same floor formula both engines evaluate identically; one
    aggregation, bins with no rows absent (sparse histogram)."""
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("_lo"), F.max("o_totalprice").alias("_hi")
    )
    n_bins = 20
    binned = orders.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.greatest(
                F.floor(
                    (F.col("o_totalprice") - F.col("_lo"))
                    / ((F.col("_hi") - F.col("_lo")) / n_bins)
                ).cast("int"),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        ).alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


ORACLE["ext_histogram"] = """
        WITH stats AS (
            SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
            FROM orders
        )
        SELECT LEAST(GREATEST(CAST(FLOOR(
                   (o_totalprice - lo) / ((hi - lo) / 20)) AS INT), 0), 19)
                   AS bin,
               COUNT(*) AS n
        FROM orders, stats
        GROUP BY 1 ORDER BY bin
    """


def ext_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov matrix of per-user event paths: one lead()
    window over the facts, probabilities computed on the tiny
    |types|² matrix."""
    from mitoscape_spark.operators.funnel import event_transitions

    events = load_table(spark, sf_dir, "events")
    return event_transitions(events).orderBy("from_type", "to_type")


ORACLE["ext_event_transitions"] = """
        WITH seq AS (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS to_type
            FROM events
        ),
        pairs AS (
            SELECT from_type, to_type, COUNT(*) AS n
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n,
               ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
        FROM pairs ORDER BY from_type, to_type
    """


def ext_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week,
    counted distinct in each later week — two user-keyed shuffles
    total."""
    from mitoscape_spark.operators.funnel import cohort_retention

    events = load_table(spark, sf_dir, "events")
    return cohort_retention(events).orderBy("cohort_week", "week_offset")


ORACLE["ext_cohort_retention"] = """
        WITH e AS (
            SELECT user_id AS u,
                   CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
                       AS w
            FROM events
        ),
        cohorts AS (
            SELECT u, MIN(w) AS cohort_week FROM e GROUP BY u
        )
        SELECT cohort_week,
               CAST(datediff('day', cohort_week, w) // 7 AS INT)
                   AS week_offset,
               CAST(COUNT(DISTINCT e.u) AS BIGINT) AS n_users
        FROM e JOIN cohorts ON e.u = cohorts.u
        GROUP BY cohort_week, week_offset
        ORDER BY cohort_week, week_offset
    """


def ext_snapshot_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """format("snapshot") round-trip: write documents through the
    Python DataSource batch writer (Arrow staging + atomic manifest
    publish), read back through the per-file Arrow reader, aggregate.
    Oracle aggregates the source table directly — the hash match
    proves the format preserved every row."""
    import tempfile

    from mitoscape_spark.sources.snapshot_datasource import register

    register(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    with tempfile.TemporaryDirectory(prefix="snapfmt_") as root:
        t = f"{root}/docs"
        docs.write.format("snapshot").mode("append").save(t)
        back = spark.read.format("snapshot").load(t)
        rows = (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_id").alias("sum_doc_id"),
            )
            .orderBy("lang")
            .collect()
        )
    return spark.createDataFrame(
        rows, "lang string, n bigint, sum_doc_id bigint"
    )


ORACLE["ext_snapshot_format"] = """
        SELECT lang, COUNT(*) AS n,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
        FROM documents GROUP BY lang ORDER BY lang
    """


def ext_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: base agg (orders with
    o_orderkey % 10 != 0, per priority) updated by a CDC delta
    (inserts = the held-out %10 rows, deletes = base rows with
    o_orderkey % 7 == 0) — O(|delta|) + a one-row-per-group join, no
    fact rescan. Oracle re-aggregates the final fact set directly:
    maintained state must equal the from-scratch answer."""
    from mitoscape_spark.operators.incremental import maintain_sum_count

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base_facts = orders.where(F.col("o_orderkey") % 10 != 0)
    base_agg = base_facts.groupBy("o_orderpriority").agg(
        F.sum("cents").alias("sum_cents"), F.count(F.lit(1)).alias("n")
    )
    delta = (
        orders.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("op", F.lit("insert"))
        .unionByName(
            base_facts.where(F.col("o_orderkey") % 7 == 0).withColumn(
                "op", F.lit("delete")
            )
        )
    )
    return maintain_sum_count(
        base_agg,
        delta,
        ["o_orderpriority"],
        "cents",
        sum_col="sum_cents",
        count_col="n",
    ).orderBy("o_orderpriority")


ORACLE["ext_incremental_agg"] = """
        WITH facts AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
            WHERE NOT (o_orderkey % 10 != 0 AND o_orderkey % 7 = 0)
        )
        SELECT o_orderpriority,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               COUNT(*) AS n
        FROM facts GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


def ext_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: overlapping 64-token windows, stride 48
    (generator + project, no shuffle, no Python)."""
    from mitoscape_spark.operators.textstats import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=64, overlap=16).orderBy(
        "doc_id", "chunk_idx"
    )


ORACLE["ext_chunk_documents"] = """
        WITH nc AS (
            SELECT doc_id, t,
                   GREATEST(CAST(CEIL((len(t) - 16.0) / 48.0) AS INT), 1)
                       AS n_chunks
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        )
        SELECT doc_id, i AS chunk_idx,
               array_to_string(t[i*48+1 : i*48+64], ' ') AS chunk,
               len(t[i*48+1 : i*48+64]) AS n_tokens
        FROM nc, UNNEST(range(n_chunks)) AS r(i)
        ORDER BY doc_id, chunk_idx
    """


# ------------------------------------------------------- sessions
def ext_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E06 (batch form): 5-minute-gap sessions per user via
    F.session_window — same gap-merge semantics as the streaming op."""
    from mitoscape_spark.operators.sessionize import sessionize

    events = load_table(spark, sf_dir, "events")
    return sessionize(events, "5 minutes").orderBy(
        "user_id", "session_start"
    )


ORACLE["ext_session_window"] = """
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        ),
        flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 5 MINUTE
                        THEN 0 ELSE 1 END AS new_session
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 5 MINUTE AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM sessions GROUP BY user_id, session_id
        ORDER BY user_id, session_start
    """


# --------------------------------------------- SQL-path (spark.sql)
# The reference has no query language (SURVEY §3: hard-wired DataFrame
# programs); the rebuild gets a full SQL frontend from Spark. Each
# _SQL_TEXT entry is one declared query: _run_sql registers the corpus
# views and hands the text to spark.sql (same Catalyst plans as the
# DataFrame API), and the same text is its DuckDB oracle, so both
# engines run it by construction. Shapes are TPC-H analogs (the corpus
# lacks some TPC-H columns; filters adjusted).
_SQL_TEXT = {
    # TPC-H Q1 shape: pricing summary, one grouped scan of the fact.
    "ext_sql_pricing_summary": """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                          AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                     AS sum_base,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc,
           ROUND(AVG(l_quantity), 4)                          AS avg_qty,
           ROUND(AVG(l_discount), 4)                          AS avg_disc,
           COUNT(*)                                           AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
""",
    # TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem, top-10 by revenue.
    "ext_sql_shipping_priority": """
    SELECT o.o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
""",
    # Recursive CTE (Spark 4.1): a generated month spine LEFT-joined to
    # the monthly order rollup — gap-filled time series without a
    # calendar table, a shape every reporting pipeline needs. The spine
    # recursion is driver-cheap (12 iterations over 1 row); the rollup is
    # one ordinary hash agg. Same SQL verbatim on DuckDB.
    "ext_sql_recursive_cte": """
    WITH RECURSIVE months(m) AS (
        SELECT 1
        UNION ALL
        SELECT m + 1 FROM months WHERE m < 12
    )
    SELECT months.m,
           COALESCE(o.n, 0) AS n,
           COALESCE(o.rev, CAST(0 AS DOUBLE)) AS rev
    FROM months
    LEFT JOIN (
        SELECT EXTRACT(MONTH FROM o_orderdate) AS m,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders
        GROUP BY EXTRACT(MONTH FROM o_orderdate)
    ) o ON months.m = o.m
    ORDER BY months.m
""",
    # Correlated LATERAL subquery — top-2 orders per customer. Catalyst
    # decorrelates the per-row LIMIT into a window-rank over one join (no
    # per-customer re-execution); the same SQL runs verbatim on DuckDB.
    # The declarative form of the top-n-per-group pattern every pipeline
    # reinvents.
    "ext_sql_lateral_topn": """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
""",
    # TPC-H Q5 shape: 6-table join with a same-nation residual —
    # exercises Catalyst join ordering + broadcast selection across the
    # dimension chain (nation/region broadcast; fact joins shuffle).
    "ext_sql_local_supplier_volume": """
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
""",
    # TPC-H Q10 shape: top customers by returned-item revenue — fact
    # ⋈ fact ⋈ dim with a pushed-down flag filter and top-k.
    "ext_sql_returned_items": """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           ROUND(c.c_acctbal, 2) AS c_acctbal,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
""",
    # TPC-H Q7 shape: bi-directional nation-pair trade volume by ship
    # year. Two roles of the same dimension (nation joined twice) + a
    # disjunctive cross-table predicate Catalyst can only apply post-join
    # — the dimension joins broadcast, the two fact joins shuffle.
    "ext_sql_volume_shipping": """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
    WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
       OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
""",
    # TPC-H Q4 shape: correlated EXISTS with a non-equi residual
    # (shipdate > orderdate + 60d) decorrelated by Catalyst into a left
    # semi join — the SQL-frontend twin of the J2/J3 semi-join surface.
    "ext_sql_order_priority": """
    SELECT o.o_orderpriority, COUNT(*) AS n
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
""",
    # TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    # predicates spanning both join sides. Catalyst extracts the common
    # per-table disjuncts (brand IN (...), quantity ranges) and pushes
    # them below the join into the parquet scan; the full OR is applied
    # as the post-join residual.
    "ext_sql_disjunctive_filter": """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 5 AND 30)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
""",
    # TPC-H Q2 shape: correlated scalar subquery with an aggregate
    # (cheapest part per brand). Catalyst decorrelates it into a
    # per-brand MIN aggregate joined back on the correlation key — one
    # extra scan + one shuffle, never a per-row subquery execution.
    "ext_sql_correlated_min": """
    SELECT p.p_partkey, p.p_name, p.p_brand,
           ROUND(p.p_retailprice, 2) AS price
    FROM part p
    WHERE p.p_retailprice = (
        SELECT MIN(p2.p_retailprice) FROM part p2
        WHERE p2.p_brand = p.p_brand
    )
    ORDER BY p.p_partkey
""",
    # TPC-H Q18 shape: IN-subquery over a grouped HAVING — the
    # classic large-volume-customer query. The subquery plans as an
    # aggregate feeding a left semi join on the fact's own key; the semi
    # side is small post-HAVING, so AQE converts it to broadcast.
    "ext_sql_large_orders": """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           CAST(SUM(l.l_quantity) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
    ORDER BY o_totalprice DESC, o.o_orderkey
""",
    # TPC-H Q22 shape: uncorrelated scalar-average subquery (plans
    # as a 1-row broadcast filter, no per-row execution) combined with a
    # correlated NOT EXISTS (decorrelated to a left anti join).
    "ext_sql_idle_rich_customers": """
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
""",
    # TPC-H Q12 shape: CASE-based conditional counts ride the single
    # partial+final hash agg — one shuffle for both measures.
    "ext_sql_shipmode_priority": """
    SELECT l.l_linestatus AS shipmode,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
    GROUP BY l.l_linestatus
    ORDER BY shipmode
""",
    # TPC-H Q14 shape: both conditional and total revenue in ONE agg
    # pass (no second scan); part side broadcasts.
    "ext_sql_promo_revenue": """
    SELECT ROUND(
        100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN l.l_extendedprice * (1 - l.l_discount)
                    ELSE 0 END)
              / SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
        AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
""",
    # TPC-H Q16 shape: NOT IN decorrelates to a broadcast null-aware
    # anti join; COUNT DISTINCT goes through the two-level Expand agg.
    "ext_sql_parts_supplier": """
    SELECT p.p_brand, p.p_type,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
""",
    # TPC-H Q21 shape — the hardest decorrelation in the suite: a
    # semi AND an anti existence join against the same fact table, then
    # agg. Catalyst plans both as hash joins on l_orderkey.
    "ext_sql_waiting_supplier": """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
""",
    # TPC-H Q9 shape: 5-way star join (fact ⋈ 2 dims ⋈ fact ⋈ dim)
    # with a LIKE filter on the part dim and a (nation, year) rollup.
    # Catalyst pushes the LIKE into the part scan, broadcasts the small
    # dims, and reorders the join chain; at 100 TB the only big-big edge
    # is lineitem⋈orders on the key both are naturally clustered by.
    "ext_sql_profit_by_nation": """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS profit
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INT)
    ORDER BY nation, o_year DESC
""",
    # TPC-H Q13 shape: outer-join histogram — per-customer order count
    # (LEFT OUTER keeps zero-order customers), then the distribution of
    # those counts. Two cascaded aggregations; the second input is one
    # row per customer, so the heavy shuffle happens exactly once.
    "ext_sql_cust_order_distribution": """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
""",
    # TPC-H Q15 shape: CTE revenue view + scalar-MAX subquery over the
    # same CTE. Revenue is rounded INSIDE the CTE so the max-equality
    # compares identically across engines. The CTE is computed twice
    # (once per reference) unless the engine reuses it — the rollup is
    # one reduced row per supplier either way.
    "ext_sql_top_supplier": """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate < DATE '1996-01-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
""",
    # TPC-H Q17 shape: correlated scalar-AVG subquery against the SAME
    # fact table. Catalyst decorrelates into a per-partkey AVG aggregate
    # joined back — the fact table is scanned twice but never per-row;
    # the naive interpretation (subquery per row) would be O(n²).
    "ext_sql_small_quantity_revenue": """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%bolt%'
      AND l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
""",
    # TPC-H Q6 shape: every predicate reaches the parquet scan as a
    # PushedFilter (range on shipdate/discount/quantity), then one
    # partial+final agg — the query that exists to measure scan + filter
    # throughput and predicate pushdown.
    "ext_sql_forecast_revenue": """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
""",
    # TPC-H Q8 shape: six-table join tree with every dimension
    # broadcastable; the nation table joins TWICE (customer side filters
    # the region, supplier side labels the share) — alias-correctness
    # under self-referencing dims, then a conditional ratio per year.
    "ext_sql_market_share": """
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_2'
                     THEN volume ELSE 0 END) / SUM(volume), 6)
               AS mkt_share
    FROM (
        SELECT year(o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
    ) shares
    GROUP BY o_year
    ORDER BY o_year
""",
    # TPC-H Q11 shape (partsupp stood in by lineitem value — the
    # corpus has no partsupp table): grouped sum filtered by a SCALAR
    # subquery computing a fraction of the global sum. Catalyst plans
    # the subquery once (one extra agg over the same filtered scan) and
    # broadcasts the 1-row threshold into the HAVING filter — never a
    # per-group re-execution.
    "ext_sql_important_volume": """
    SELECT l.l_partkey,
           ROUND(SUM(l.l_extendedprice * l.l_quantity), 2) AS value
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
    GROUP BY l.l_partkey
    HAVING SUM(l.l_extendedprice * l.l_quantity) > (
        SELECT 0.001 * SUM(l2.l_extendedprice * l2.l_quantity)
        FROM lineitem l2
        JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        WHERE n2.n_name = 'NATION_3'
    )
    ORDER BY value DESC, l.l_partkey
""",
    # TPC-H Q20 shape: a two-level IN-subquery chain (suppliers who
    # moved >100 units of PROMO parts). Both INs decorrelate to
    # semi-joins: part gates lineitem BEFORE its aggregation, the
    # aggregated supplier set semi-joins the dimension — no correlated
    # re-execution anywhere.
    "ext_sql_promo_supplier": """
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_1'
      AND s.s_suppkey IN (
          SELECT l.l_suppkey
          FROM lineitem l
          WHERE l.l_partkey IN (
              SELECT p_partkey FROM part WHERE p_type = 'PROMO'
          )
          GROUP BY l.l_suppkey
          HAVING SUM(l.l_quantity) > 100
      )
    ORDER BY s.s_name
""",
    # Frequent-itemset first pass (market-basket 2-itemsets): part
    # pairs co-occurring in >= 2 distinct orders. The (order, part)
    # dedup BEFORE the self-join is what keeps the pair space basket-
    # bounded (repeated lines of one part would square into the output);
    # per-order pair fan-out is basket_size², the A-priori cost model.
    # Identical SQL both engines.
    "ext_copurchase_pairs": """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS support
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
    ORDER BY support DESC, part_a, part_b
    LIMIT 200
""",
    # Concentration (Lorenz/decile) report: customers ranked by total
    # spend, split into revenue deciles, each decile's share of total —
    # the who-are-the-whales query every revenue dashboard carries. One
    # agg + one window over the AGGREGATED customer table (never the
    # facts) + a 1-row total broadcast. Identical SQL both engines
    # (deterministic NTILE tie-break by custkey).
    "ext_revenue_concentration": """
    WITH cust AS (
        SELECT o_custkey, SUM(o_totalprice) AS rev
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT o_custkey, rev,
               NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
        FROM cust
    ), tot AS (SELECT SUM(rev) AS total FROM cust)
    SELECT decile,
           COUNT(*) AS n_customers,
           ROUND(SUM(rev), 2) AS revenue,
           ROUND(SUM(rev) / tot.total, 6) AS share
    FROM ranked, tot
    GROUP BY decile, tot.total
    ORDER BY decile
""",
    # Explicit GROUPING SETS (the asymmetric subset cube/rollup can't
    # state): three chosen set combinations in ONE pass via Catalyst's
    # Expand — map-side ×3 replication, one shuffle, no per-set rescans.
    # Identical SQL text runs on DuckDB.
    "ext_sql_grouping_sets": """
    SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           COALESCE(l_linestatus, 'ALL') AS ls,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    ORDER BY rf, ls
""",
}
ORACLE.update(_SQL_TEXT)


def _run_sql(sql: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(sql)


def ext_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4): linear ``|>`` operator chaining — the
    readable form of nested subqueries. Catalyst plans it identically
    to the classic formulation (the oracle states the same query in
    standard SQL and must hash-match)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_totalprice > 100000
        |> AGGREGATE COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS rev
           GROUP BY o_orderstatus
        |> ORDER BY o_orderstatus
        """
    )


ORACLE["ext_sql_pipe_syntax"] = """
        SELECT o_orderstatus, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders
        WHERE o_totalprice > 100000
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """


def ext_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: top-50 tokens by document frequency
    (DF = docs containing the token, TF = total occurrences). The
    profile job every training-data pipeline runs; distinct-agg +
    count in one pass, deterministic (df DESC, tok) ordering."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
        )
        .orderBy(F.col("df").desc(), "tok")
        .limit(50)
    )


ORACLE["ext_term_freq"] = """
        SELECT tok,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
               COUNT(*) AS tf
        FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents
        )
        GROUP BY tok
        ORDER BY df DESC, tok
        LIMIT 50
    """


def ext_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth on one pass: lag/lead (offset),
    first_value (frame), ntile/percent_rank/cume_dist (rank family)
    share a single (PARTITION BY o_custkey ORDER BY ...) window spec —
    one shuffle + one sort serves all six, which is exactly how Spark
    physical-plans it (a single Window operator)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
            F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
            F.round(F.first_value("o_totalprice").over(w), 2).alias(
                "first_price"
            ),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 4).alias("cdist"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


ORACLE["ext_window_funcs"] = """
        SELECT o_custkey, o_orderkey,
               ROUND(LAG(o_totalprice) OVER w, 2)  AS prev_price,
               ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price,
               ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
               CAST(NTILE(4) OVER w AS INT)        AS quartile,
               ROUND(PERCENT_RANK() OVER w, 4)     AS pct_rank,
               ROUND(CUME_DIST() OVER w, 4)        AS cdist
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey
    """


def ext_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4, Arrow-batched) in a LATERAL join: each
    document row fans out to its word bigrams. UDTFs are the
    generator-shaped UDF surface the reference lacks entirely
    (SURVEY §2.8 'no UDTFs'); Arrow batching keeps the Python
    boundary columnar. Top-1000 slice for a bounded result."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram: string", useArrow=True)
    class BigramUDTF:
        def eval(self, text: str):
            toks = (text or "").lower().split(" ")
            for a, b in zip(toks, toks[1:]):
                yield (a + " " + b,)

    spark.udtf.register("bigrams", BigramUDTF)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(
        """
        SELECT d.doc_id, b.bigram
        FROM documents d, LATERAL bigrams(d.text) b
        ORDER BY d.doc_id, b.bigram
        LIMIT 1000
        """
    )


ORACLE["ext_udtf_bigrams"] = """
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS t
            FROM documents
        )
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
        FROM toks, UNNEST(range(1, array_length(t))) AS r(i)
        ORDER BY doc_id, bigram
        LIMIT 1000
    """


def ext_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions over the events.props payload column: typed
    ``from_json`` parse (schema'd, JVM-side Jackson — not a UDF) then
    per-type aggregation of the extracted field. The semi-structured
    column pattern every event pipeline hits."""
    events = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE["ext_json_extract"] = """
        SELECT event_type, COUNT(*) AS n,
               ROUND(AVG(k), 4) AS avg_k,
               MAX(k) AS max_k
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events
        )
        GROUP BY event_type ORDER BY event_type
    """


def ext_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column, fully
    JVM-side (no Python boundary): transform (x²), aggregate (fold to
    squared L2 norm), filter+size (positive-component count),
    array_max. The declarative alternative to a vector pandas_udf —
    whole-stage-codegen'd, Catalyst-prunable."""
    emb = load_table(spark, sf_dir, "embeddings")
    xsq = F.transform("embedding", lambda x: x.cast("double") * x)
    return (
        emb.select(
            "vec_id",
            F.round(
                F.aggregate(xsq, F.lit(0.0), lambda acc, x: acc + x), 4
            ).alias("sq_norm"),
            F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
            F.round(F.array_max("embedding").cast("double"), 4).alias("mx"),
        )
        .orderBy("vec_id")
    )


ORACLE["ext_array_hof"] = """
        SELECT vec_id,
               ROUND(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * x)), 4) AS sq_norm,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
               ROUND(CAST(list_max(embedding) AS DOUBLE), 4) AS mx
        FROM embeddings ORDER BY vec_id
    """


def ext_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling rollup in batch: date_trunc to the hour +
    per-(hour, type) aggregates — the batch twin of the streaming
    window queries (streaming/windows.py shares this grouping).

    avg_value is computed in EXACT integer arithmetic (round-12 fix):
    the corpus `value` is a 2-decimal quantity, so group means land on
    exact .00005 ties (e.g. 1403.37/24 = 58.47375) where the engines'
    double ROUND implementations disagree — Spark rounds the shortest
    decimal repr of the double, DuckDB the double's value — and the
    old ROUND(AVG(value), 4) flipped on 3 groups at sf0.1. Instead:
    per-row cents = ROUND(value*100) (exact, deterministic), and the
    half-up 4-decimal mean is the INTEGER identity
    (200·Σcents + n) DIV (2n) / 10⁴ — floor((2a+b)/2b) = half-up(a/b)
    for a,b > 0 — identical in both engines by construction."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hr"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)"
            ).alias("_cents"),
        )
        .select(
            "hr",
            "event_type",
            "n",
            F.expr(
                "CAST((200 * _cents + n) DIV (2 * n) AS DOUBLE) / 10000"
            ).alias("avg_value"),
        )
        .orderBy("hr", "event_type")
    )


ORACLE["ext_time_rollup"] = """
        SELECT hr, event_type, n,
               CAST((200 * cents + n) // (2 * n) AS DOUBLE) / 10000
                   AS avg_value
        FROM (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ) ORDER BY hr, event_type
    """


def ext_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-part numeric columns → (part, metric,
    value) long form — the inverse of ext_pivot. DataFrame ``unpivot``
    is a zero-shuffle generator (each row expands map-side)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").cast("double").alias("retailprice"),
        )
        .unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
        .orderBy("p_partkey", "metric")
    )


ORACLE["ext_unpivot"] = """
        SELECT p_partkey, metric, value FROM (
            SELECT p_partkey, 'size' AS metric,
                   CAST(p_size AS DOUBLE) AS value FROM part
            UNION ALL
            SELECT p_partkey, 'retailprice' AS metric,
                   CAST(p_retailprice AS DOUBLE) AS value FROM part
        ) ORDER BY p_partkey, metric
    """


def ext_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data preparation: quality-score every doc,
    keep quality ≥ 0.5, chunk survivors into 32-token windows (stride
    24), count chunks and tokens per kept doc — the operators composing
    end-to-end as one Catalyst plan (scores and chunking fuse into the
    same scan; one shuffle for the final per-doc count)."""
    from mitoscape_spark.operators.textstats import (
        chunk_documents,
        quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    # one scan: keep text through the scoring projection instead of
    # re-attaching it with a doc_id self-join (round-7 join elimination)
    kept = (
        quality_scores(docs, keep=("text",))
        .where(F.col("quality") >= 0.5)
        .select("doc_id", "text")
    )
    chunks = chunk_documents(kept, chunk_size=32, overlap=8)
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("total_chunk_tokens"),
        )
        .orderBy("doc_id")
    )


ORACLE["ext_prep_pipeline"] = f"""
        WITH q AS (
            SELECT doc_id,
                   LEAST(len(string_split(lower(text), ' ')) / 50.0, 1.0) * 0.4
                   + (1 - LEAST((length(text) - length(
                         regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                         / GREATEST(length(text), 1) * 1.0, 1.0)) * 0.3
                   + LEAST(len(list_intersect(
                         string_split(lower(text), ' '),
                         {_STOP_SQL['en']})) / 5.0, 1.0) * 0.3 AS quality
            FROM documents
        ),
        kept AS (
            SELECT d.doc_id, d.text FROM documents d
            JOIN q ON d.doc_id = q.doc_id
            WHERE ROUND(q.quality, 4) >= 0.5
        ),
        nc AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   GREATEST(CAST(CEIL((len(string_split(text, ' ')) - 8.0)
                       / 24.0) AS INT), 1) AS n_chunks
            FROM kept
        ),
        chunks AS (
            SELECT doc_id, len(t[i*24+1 : i*24+32]) AS n_tokens
            FROM nc, UNNEST(range(n_chunks)) AS r(i)
        )
        SELECT doc_id, COUNT(*) AS n_chunks,
               CAST(SUM(n_tokens) AS BIGINT) AS total_chunk_tokens
        FROM chunks GROUP BY doc_id ORDER BY doc_id
    """


# ------------------------------------------------ joins/set-ops surface
def ext_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite (operators/funnel.py::
    sequence_pattern_match): users whose ordered event stream contains
    signup → purchase with no error in between — one grouped agg + one
    JVM rlike, regex staying in the RE2-compatible subset so the DuckDB
    oracle (string_agg ORDER BY + regexp_matches) reproduces it
    exactly."""
    from mitoscape_spark.operators.funnel import sequence_pattern_match

    events = load_table(spark, sf_dir, "events")
    pat = "(^|>)signup>((click|view|signup|purchase)>)*purchase(>|$)"
    return sequence_pattern_match(events, pat).orderBy("user_id")


ORACLE["ext_pattern_match"] = """
        WITH seqs AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY ts, event_id)
                       AS sequence
            FROM events GROUP BY user_id
        )
        SELECT user_id, sequence FROM seqs
        WHERE regexp_matches(sequence,
            '(^|>)signup>((click|view|signup|purchase)>)*purchase(>|$)')
        ORDER BY user_id
    """


def ext_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search through the positional inverted index
    (operators/bm25.py::phrase_search): postings prune to the phrase's
    tokens, k−1 (doc, pos+i) equi-joins align the sequence — per-query
    cost ∝ the phrase's posting lists, never a text scan. The oracle
    states the token-boundary LIKE scan over the space-joined corpus;
    both must return the identical doc set."""
    from mitoscape_spark.operators.bm25 import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "vector join").orderBy("doc_id")


ORACLE["ext_phrase_search"] = """
        SELECT doc_id
        FROM documents
        WHERE (' ' || lower(text) || ' ') LIKE '% vector join %'
        ORDER BY doc_id
    """


def ext_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR/5 proximity retrieval (operators/bm25.py::proximity_search):
    'vector' and 'slow' within 5 tokens, closest gap reported — two
    pruned posting-list fetches + a per-doc position join. Oracle
    restates it over DuckDB's 0-based unnested positions."""
    from mitoscape_spark.operators.bm25 import proximity_search

    docs = load_table(spark, sf_dir, "documents")
    return proximity_search(docs, "vector", "slow", window=5).orderBy(
        "doc_id"
    )


ORACLE["ext_proximity_search"] = """
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS t
            FROM documents
        ), p AS (
            SELECT doc_id, i AS pos, t[i + 1] AS token
            FROM toks, UNNEST(range(len(t))) AS r(i)
        ), a AS (
            SELECT doc_id, pos FROM p WHERE token = 'vector'
        ), b AS (
            SELECT doc_id, pos FROM p WHERE token = 'slow'
        )
        SELECT a.doc_id, CAST(MIN(ABS(a.pos - b.pos)) AS INT) AS min_gap
        FROM a JOIN b USING (doc_id)
        WHERE ABS(a.pos - b.pos) <= 5
        GROUP BY a.doc_id
        ORDER BY a.doc_id
    """


def ext_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/asof.py direction='forward'): each
    order paired with that customer's FIRST event at or after the order
    date — the other half of the merge-pattern contract (backward is
    ext_asof_join). Equal-time ties resolve to the greatest event_id;
    the oracle states the rank-1 formulation."""
    from mitoscape_spark.operators.asof import asof_join

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), "o_orderkey", "o_orderdate"
    )
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "ts", "event_id"
    )
    out = asof_join(
        orders,
        events,
        on="k",
        left_time="o_orderdate",
        right_time="ts",
        payload=["event_id"],
        tiebreak="event_id",
        direction="forward",
    )
    return out.select(
        F.col("k").alias("user_id"), "o_orderkey", "event_id"
    ).orderBy("o_orderkey")


ORACLE["ext_asof_forward"] = """
        WITH ranked AS (
            SELECT o.o_custkey AS user_id, o.o_orderkey, e.event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY o.o_orderkey
                       ORDER BY e.ts ASC, e.event_id DESC
                   ) AS rn
            FROM orders o
            LEFT JOIN events e
              ON e.user_id = o.o_custkey
             AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate
        )
        SELECT user_id, o_orderkey, event_id
        FROM ranked WHERE rn = 1 ORDER BY o_orderkey
    """


def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event paired with the user's most recent order
    at or before the event (merge pattern — one shuffle, no row
    amplification; operators.asof). Ties on order date resolve to the
    greatest o_orderkey; the oracle states the rank-1 form."""
    from mitoscape_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "event_id", "ts"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    )
    out = asof_join(
        events,
        orders,
        on="k",
        left_time="ts",
        right_time="o_orderdate",
        payload=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return out.select(
        "event_id",
        F.col("k").alias("user_id"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    ).orderBy("event_id")


ORACLE["ext_asof_join"] = """
        WITH ranked AS (
            SELECT e.event_id, e.user_id, o.o_orderkey,
                   ROUND(o.o_totalprice, 2) AS o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                   ) AS rn
            FROM events e
            JOIN orders o
              ON e.user_id = o.o_custkey
             AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
        )
        SELECT event_id, user_id, o_orderkey, o_totalprice
        FROM ranked WHERE rn = 1 ORDER BY event_id
    """


def ext_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — customers with no 'P'-status orders
    (NOT EXISTS). The complement of the reference's semi-join writeback
    (J2/J3); the status filter keeps the result non-vacuous (every
    customer in the corpus has some order)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "P"
    )
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ORACLE["ext_anti_join"] = """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
        )
        ORDER BY c_custkey
    """


def ext_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over per-side aggregates: nations by customer
    count vs supplier count, either side possibly absent."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("nc"))
    s = supplier.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("ns"))
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("nc", F.lit(0)).alias("nc"),
            F.coalesce("ns", F.lit(0)).alias("ns"),
        )
        .orderBy("nationkey")
    )


ORACLE["ext_outer_join"] = """
        WITH c AS (
            SELECT c_nationkey, COUNT(*) AS nc FROM customer
            GROUP BY c_nationkey
        ),
        s AS (
            SELECT s_nationkey, COUNT(*) AS ns FROM supplier
            GROUP BY s_nationkey
        )
        SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
               COALESCE(nc, 0) AS nc,
               COALESCE(ns, 0) AS ns
        FROM c FULL OUTER JOIN s ON c.c_nationkey = s.s_nationkey
        ORDER BY nationkey
    """


def ext_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT (set semantics — absent from the reference,
    SURVEY §2.5): nation keys having customers but no suppliers, and
    keys having both, unioned with a tag column."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(F.col("c_nationkey").alias("nationkey"))
    s = supplier.select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    # subtract == EXCEPT DISTINCT (set semantics); exceptAll would keep
    # leftover duplicate occurrences (bag semantics)
    only_c = c.subtract(s).withColumn("tag", F.lit("customers_only"))
    return both.unionAll(only_c).orderBy("tag", "nationkey")


ORACLE["ext_set_ops"] = """
        SELECT nationkey, 'both' AS tag FROM (
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey FROM supplier
        )
        UNION ALL
        SELECT nationkey, 'customers_only' AS tag FROM (
            SELECT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT s_nationkey FROM supplier
        )
        ORDER BY tag, nationkey
    """


def ext_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per (customer-nation, orderstatus) with the
    status domain spread to columns. Catalyst rewrites pivot to
    conditional aggregates — the oracle states that form directly."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .select(
            "n_name",
            F.col("F").alias("n_f"),
            F.col("O").alias("n_o"),
            F.col("P").alias("n_p"),
        )
        .orderBy("n_name")
    )


ORACLE["ext_pivot"] = """
        SELECT n_name,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n_name ORDER BY n_name
    """


# ----------------------------------------------------- OLAP additions
def ext_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (nation → ALL): grouping-sets aggregation,
    a surface the reference lacks entirely (SURVEY §2.4). Null group
    keys are coalesced to 'ALL' so cross-engine sort/hash agree."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .rollup("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("bal"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("n_name"),
            "n",
            "bal",
        )
        .orderBy("n_name")
    )


ORACLE["ext_rollup"] = """
        SELECT COALESCE(n_name, 'ALL') AS n_name,
               COUNT(*) AS n,
               ROUND(SUM(c_acctbal), 2) AS bal
        FROM customer c JOIN nation nt ON c.c_nationkey = nt.n_nationkey
        GROUP BY ROLLUP(n_name)
        ORDER BY n_name
    """


def ext_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (ordered-set
    aggregate): Spark `percentile` == DuckDB `quantile_cont`."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


ORACLE["ext_quantiles"] = """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
               ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
               ROUND(quantile_cont(l_quantity, 0.75), 4) AS p75
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """


def ext_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (COUNT/SUM DISTINCT) — Catalyst expands to a
    two-level aggregation; no distinct-aggs exist in the reference."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sdq"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


ORACLE["ext_distinct_agg"] = """
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               ROUND(SUM(DISTINCT l_quantity), 2) AS sdq,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """


def ext_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust z-score of event values (applyInPandas grouped
    map — two dependent medians per group, not a Catalyst aggregate).
    Oracle: DuckDB median + MAD via two windowless aggregates."""
    from mitoscape_spark.operators.grouped import grouped_robust_zscore

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    return (
        grouped_robust_zscore(events, "user_id", "value")
        .select("user_id", "event_id", "robust_z")
        .orderBy("user_id", "event_id")
    )


ORACLE["ext_robust_z"] = """
        WITH stats AS (
            SELECT user_id, median(value) AS med
            FROM events GROUP BY user_id
        ),
        mads AS (
            SELECT e.user_id, median(abs(e.value - s.med)) AS mad
            FROM events e JOIN stats s ON e.user_id = s.user_id
            GROUP BY e.user_id
        )
        SELECT e.user_id, e.event_id,
               CASE WHEN m.mad = 0 THEN NULL
                    ELSE ROUND((e.value - s.med) / (1.4826 * m.mad), 4)
               END AS robust_z
        FROM events e
        JOIN stats s ON e.user_id = s.user_id
        JOIN mads m ON e.user_id = m.user_id
        ORDER BY e.user_id, e.event_id
    """


# ---------------------------------------------------------- intervals
def ext_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval join (big-big scale path for q13's semantics):
    per event, count same-user events in the following hour. Same
    result as the range-residual join, but executed as an equi-join on
    (user_id, hour-bucket) — no nested loop, even when both sides are
    fact tables."""
    from mitoscape_spark.operators.intervals import point_interval_join

    events = load_table(spark, sf_dir, "events")
    # MICROSECOND-precision epochs, same round-12 correctness fix as
    # q13: the corpus timestamps are sub-second and the oracle compares
    # full timestamps — unix_timestamp's seconds truncation drops a
    # same-user pair sharing a truncated second (materializes at sf0.1)
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01', ts)"
    intervals = events.selectExpr(
        "event_id",
        "user_id",
        f"{us} AS w_start",
        f"{us} + 3600000000 AS w_end",
    )
    points = events.selectExpr("user_id", f"{us} AS p_ts")
    joined = point_interval_join(
        points,
        intervals,
        point_col="p_ts",
        start_col="w_start",
        end_col="w_end",
        equi_keys=["user_id"],
        bucket_width=3600 * 1_000_000,
        closed="right",
    )
    return (
        joined.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_id")
    )


ORACLE["ext_interval_join"] = """
        SELECT e1.event_id, COUNT(*) AS n
        FROM events e1
        JOIN events e2
          ON e1.user_id = e2.user_id
         AND CAST(e2.ts AS TIMESTAMP) > CAST(e1.ts AS TIMESTAMP)
         AND CAST(e2.ts AS TIMESTAMP)
             <= CAST(e1.ts AS TIMESTAMP) + INTERVAL 1 HOUR
        GROUP BY e1.event_id ORDER BY e1.event_id
    """


# ------------------------------------------- approximate (rows-only)
def ext_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based corpus stats per return flag — the O(1)-memory path
    for 100 TB profile jobs where exact distinct/percentile would
    shuffle the world: theta-sketch distinct part counts + GK-sketch
    median. Both sketches are EXACT below capacity — theta stores raw
    hashes until its nominal-entry capacity (lgNomEntries=15 → 32768,
    sized past the largest shipped corpus: 20000 distinct parts/flag
    at sf0.1 overflowed the old 4096 default and skewed nd_parts by
    ~0.03% — round-12 fix) and percentile_approx's rank error
    floor(n/accuracy) is <1 rank at accuracy=100000 — so the DuckDB
    oracle states plain COUNT(DISTINCT)/quantile_disc (same trick as
    ext_theta_overlap). At 100 TB the same plan degrades gracefully to
    ±2% estimates with identical memory: sketches partial-aggregate
    map-side, the shuffle carries KB of state per flag, never the
    fact rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.theta_sketch_estimate(
                F.theta_sketch_agg("l_partkey", 15)
            ).alias("nd_parts"),
            F.percentile_approx("l_quantity", 0.5, 100000).alias("p50"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


# exact below sketch capacity (see ext_sketch_stats docstring):
# theta distinct == COUNT(DISTINCT), GK median == quantile_disc
ORACLE["ext_sketch_stats"] = """
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
               quantile_disc(l_quantity, 0.5) AS p50,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1 ORDER BY 1
    """


def ext_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k cosine via an IVF coarse quantizer (k-means
    cells, n_probe nearest probed). Approximate ⇒ rows-only check;
    recall vs brute force asserted in tests/test_operators.py."""
    from mitoscape_spark.operators.similarity import IVFFlatIndex

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    index = IVFFlatIndex(n_centroids=8, n_probe=3).fit(emb)
    return index.topk(emb.where(F.col("vec_id") != 0), list(query), k=10)


def ext_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k cosine via product quantization: m uint8
    codes per vector (≈64× memory shrink), asymmetric-distance-table
    scoring. Approximate ⇒ rows-only; recall vs brute force pinned in
    tests/test_operators.py."""
    from mitoscape_spark.operators.similarity import PQIndex

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    pq = PQIndex(m=16, k=32, n_iter=8).fit(emb)
    codes = pq.encode(emb.where(F.col("vec_id") != 0))
    return pq.topk(codes, list(query), k=10)


def ext_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF×PQ ANN: probe n_probe cells (partition pruning),
    ADC-scan compressed codes only. Approximate ⇒ rows-only; recall
    and real-pruning pinned in tests/test_operators.py."""
    from mitoscape_spark.operators.similarity import IVFPQIndex

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    idx = IVFPQIndex(n_centroids=8, n_probe=4, m=16, k=32).fit(emb)
    index = idx.encode(emb.where(F.col("vec_id") != 0))
    return idx.topk(index, list(query), k=10)


def _ann_lsh_oracle_sql() -> str:
    """DuckDB restatement of ext_ann_lsh — the one ANN family member
    whose every parameter is data-INdependent: the sign-LSH hyperplanes
    are pure functions of a seed (operators/similarity.py:343), so they
    embed as SQL literals the way any operator constant would, and
    DuckDB independently re-derives every sign bit, every bucket id
    (for the corpus AND the query), the OR-of-tables candidate set, and
    the final cosine top-k. Unlike IVF/PQ (k-means state = a function
    of the data, so an oracle would have to embed numbers computed by
    the system under test), this check is end-to-end independent.

    Float caveat: sign(dot) could in principle disagree across engines
    for a dot within ~1e-13 of zero; dots here are O(1)-scale sums of
    64 standard-normal products, so the collision probability over the
    ~32*(N+1) dots at sf0.01 is vanishingly small (and a flip would
    fail the hash loudly, not silently)."""
    from mitoscape_spark.operators.similarity import SignRandomProjectionLSH

    lsh = SignRandomProjectionLSH(dim=64, n_planes=4, n_tables=8)
    rows = []
    for t in range(lsh.n_tables):
        for p in range(lsh.n_planes):
            lits = ", ".join(repr(float(x)) for x in lsh.planes[t, p])
            rows.append(f"({t}, {1 << p}, CAST([{lits}] AS DOUBLE[]))")
    values = ",\n            ".join(rows)
    return f"""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = 0
        ),
        planes(t, bit, pl) AS (VALUES
            {values}
        ),
        qb AS (
            SELECT t, SUM(CASE WHEN list_dot_product(q.qv, pl) >= 0
                               THEN bit ELSE 0 END) AS bucket
            FROM planes, q GROUP BY t
        ),
        cb AS (
            SELECT e.vec_id, planes.t,
                   SUM(CASE WHEN list_dot_product(
                           CAST(e.embedding AS DOUBLE[]), pl) >= 0
                       THEN bit ELSE 0 END) AS bucket
            FROM embeddings e, planes
            WHERE e.vec_id != 0
            GROUP BY e.vec_id, planes.t
        ),
        cand AS (
            SELECT DISTINCT cb.vec_id
            FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
        )
        SELECT e.vec_id AS id,
               ROUND(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos
        FROM cand, embeddings e, q
        WHERE e.vec_id = cand.vec_id
        ORDER BY cos DESC, id LIMIT 10
    """


def ext_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k cosine via sign-random-projection LSH.

    ORACLE-checked (the one ANN entry that can be): the seeded
    hyperplanes are data-independent constants, so the DuckDB oracle
    embeds them as literals and re-derives every sign bit, bucket id,
    the OR-of-tables candidate set, and the cosine top-k end-to-end
    (see _ann_lsh_oracle_sql). Recall ≥ 0.6 vs brute force is
    additionally pinned in tests/test_similarity.py.
    """
    from mitoscape_spark.operators.similarity import SignRandomProjectionLSH

    emb = load_table(spark, sf_dir, "embeddings")
    query = (
        emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    )
    lsh = SignRandomProjectionLSH(dim=64, n_planes=4, n_tables=8)
    return lsh.topk(emb.where(F.col("vec_id") != 0), list(query), k=10)


ORACLE["ext_ann_lsh"] = _ann_lsh_oracle_sql()


def ext_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline, real decode: binary payload column + typed
    metadata → stdlib codecs (WAV via ``wave``, binary PPM, 24-bit BMP)
    → Arrow-batched feature histograms via mapInPandas. Media is
    generated distributed as REAL format bytes (deterministic function
    of doc_id), decoded distributed. Rows-only check (binary columns
    aren't in the DuckDB corpus)."""
    from mitoscape_spark.sources.multimodal import (
        decode_media,
        synthetic_decodable_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_decodable_media(spark, docs)
    return (
        decode_media(media)
        .select(
            "media_id",
            "modality",
            F.round(F.element_at("features", 1), 6).alias("f0"),
            F.size("features").alias("dim"),
        )
        .orderBy("media_id")
    )


def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 20th doc plays the eval set;
    report distinct shared-shingle counts for the contaminated training
    docs. The benchmark shingle set broadcasts (eval suites are MB-scale
    against a 100 TB corpus), so the membership probe is map-side."""
    from mitoscape_spark.operators.decontaminate import contamination_report

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    return contamination_report(train, bench).orderBy("doc_id")


ORACLE["ext_decontaminate"] = f"""
        WITH {_TOKS}, {_SHINGLES3},
        bench AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
        )
        SELECT s.doc_id, COUNT(*) AS n_shared
        FROM sh s JOIN bench b ON s.shingle = b.shingle
        WHERE s.doc_id % 20 != 0
        GROUP BY s.doc_id
        ORDER BY s.doc_id
    """


def ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: global prefix sum of token counts in
    doc_id order via the two-phase bucketed rewrite (operators/packing)
    — no single-partition global window at any scale."""
    from mitoscape_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
    )
    return pack_sequences(
        toks, order_col="doc_id", tokens_col="n_tokens",
        budget=512, bucket_width=64,
    ).orderBy("doc_id")


ORACLE["ext_pack_sequences"] = """
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                       AS n_tokens
            FROM documents
        ),
        offs AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS start_offset
            FROM t
        )
        SELECT doc_id, n_tokens, start_offset,
               start_offset // 512 AS pack_id
        FROM offs ORDER BY doc_id
    """


def ext_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing: keep 25% of 'en', 50% of 'de', all of
    the rest, decided by md5(doc_id) — engine-portable (same rows in
    DuckDB), partition-layout independent, shuffle-free."""
    from mitoscape_spark.operators.sampling import weighted_mix

    docs = load_table(spark, sf_dir, "documents")
    return (
        weighted_mix(
            docs, "lang", {"en": 0.25, "de": 0.5}, key_col="doc_id"
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


ORACLE["ext_sample_mix"] = """
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
              CASE WHEN lang = 'en' THEN '4000'
                   WHEN lang = 'de' THEN '8000'
                   ELSE 'g' END
        ORDER BY doc_id
    """


def ext_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + whitespace normalization + per-doc leak audit —
    all JVM-side regexp expressions, one narrow scan, no shuffle."""
    from mitoscape_spark.operators.redact import (
        normalize_text,
        pii_counts,
        redact_pii,
    )

    docs = load_table(spark, sf_dir, "documents")
    red = normalize_text(
        pii_counts(redact_pii(docs)), "redacted", "clean"
    )
    return red.select(
        "doc_id",
        "clean",
        F.col("n_url").cast("long").alias("n_url"),
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
    ).orderBy("doc_id")


ORACLE["ext_redact"] = """
        SELECT doc_id,
               lower(trim(regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               'https?://[A-Za-z0-9./_%?&=#-]+',
                               '<URL>', 'g'),
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '\\+?[0-9][0-9()-]{6,}[0-9]', '<PHONE>', 'g'),
                   '[ \t\n\r]+', ' ', 'g'))) AS clean,
               len(regexp_extract_all(text,
                   'https?://[A-Za-z0-9./_%?&=#-]+')) AS n_url,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS n_email,
               len(regexp_extract_all(text,
                   '\\+?[0-9][0-9()-]{6,}[0-9]')) AS n_phone
        FROM documents ORDER BY doc_id
    """


def ext_redact_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated credit-card redaction
    (operators/redact.py::redact_credit_cards): card-shaped digit runs
    replace with <CC> only when the checksum passes — a bare regex
    would also nuke order ids and timestamps. Valid (4111…) and
    invalid (1234 5678 9012 3456) candidates are planted
    deterministically so both the accept and reject paths are
    exercised; the DuckDB oracle restates the same extract → Luhn
    lambda → per-doc recursive-CTE replace fold."""
    from mitoscape_spark.operators.redact import redact_credit_cards

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.pmod("doc_id", F.lit(7)) == 0,
                F.lit(" card 4111-1111-1111-1111 thanks"),
            )
            .when(
                F.pmod("doc_id", F.lit(11)) == 0,
                F.lit(" ref 1234 5678 9012 3456 end"),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return (
        redact_credit_cards(planted)
        .select(
            "doc_id",
            F.col("n_cc_candidates").cast("long").alias("n_cc_candidates"),
            F.col("n_cc").cast("long").alias("n_cc"),
            "cc_redacted",
        )
        .orderBy("doc_id")
    )


# Luhn-validated CC redaction: same candidate regex, the Luhn lambda
# with DuckDB's 1-BASED list_transform index (double on even i ↔
# Spark's 0-based odd), and — since DuckDB 1.0 lacks list_reduce with
# an init value — the literal-replace fold runs as a per-doc recursive
# CTE over the validated candidate list. regexp_replace needs the 'g'
# flag (DuckDB is first-match by default; Spark is global).
ORACLE["ext_redact_cc"] = r"""
    WITH RECURSIVE planted AS (
        SELECT doc_id,
               text || CASE
                   WHEN doc_id % 7 = 0
                       THEN ' card 4111-1111-1111-1111 thanks'
                   WHEN doc_id % 11 = 0
                       THEN ' ref 1234 5678 9012 3456 end'
                   ELSE '' END AS text
        FROM documents
    ), base AS (
        SELECT doc_id, text,
               regexp_extract_all(text, '\b(?:\d[ -]?){12,18}\d\b') AS cands
        FROM planted
    ), judged AS (
        SELECT doc_id, text, cands,
               list_filter(cands, c ->
                   list_sum(list_transform(
                       string_split(reverse(
                           regexp_replace(c, '[ -]', '', 'g')), ''),
                       (ch, i) -> CASE WHEN i % 2 = 0 THEN
                               CASE WHEN CAST(ch AS INT) * 2 > 9
                                    THEN CAST(ch AS INT) * 2 - 9
                                    ELSE CAST(ch AS INT) * 2 END
                           ELSE CAST(ch AS INT) END
                   )) % 10 = 0
               ) AS valid
        FROM base
    ), fold AS (
        SELECT doc_id, 0 AS k, text AS acc, valid FROM judged
        UNION ALL
        SELECT doc_id, k + 1, replace(acc, valid[k + 1], '<CC>'), valid
        FROM fold WHERE k < len(valid)
    )
    SELECT j.doc_id,
           CAST(len(j.cands) AS BIGINT) AS n_cc_candidates,
           CAST(len(j.valid) AS BIGINT) AS n_cc,
           f.acc AS cc_redacted
    FROM judged j JOIN fold f
      ON j.doc_id = f.doc_id AND f.k = len(j.valid)
    ORDER BY j.doc_id
"""


def ext_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column profile of orders — ONE aggregation job
    for all four columns (multi-COUNT-DISTINCT via Catalyst Expand),
    unpivoted with stack; no per-column rescans."""
    from mitoscape_spark.operators.profile import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    ).orderBy("col_name")


ORACLE["ext_profile"] = """
        SELECT * FROM (
            SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
                   COUNT(*) - COUNT(o_orderkey) AS n_nulls,
                   COUNT(DISTINCT o_orderkey) AS n_distinct,
                   CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
                   CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
            FROM orders
            UNION ALL
            SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
                   COUNT(DISTINCT o_custkey),
                   CAST(MIN(o_custkey) AS VARCHAR),
                   CAST(MAX(o_custkey) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', COUNT(*),
                   COUNT(*) - COUNT(o_orderstatus),
                   COUNT(DISTINCT o_orderstatus),
                   MIN(o_orderstatus), MAX(o_orderstatus)
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', COUNT(*),
                   COUNT(*) - COUNT(o_orderpriority),
                   COUNT(DISTINCT o_orderpriority),
                   MIN(o_orderpriority), MAX(o_orderpriority)
            FROM orders
        ) ORDER BY col_name
    """


def ext_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation over lineitem: NOT NULL, key uniqueness
    (known-violated in this corpus — nonzero count expected), and two
    referential-integrity checks via left-anti joins."""
    from mitoscape_spark.operators.profile import quality_summary

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    return quality_summary(
        li,
        not_null=["l_orderkey", "l_quantity"],
        unique=[["l_orderkey", "l_linenumber"]],
        references=[
            (orders, "l_orderkey", "o_orderkey"),
            (part, "l_partkey", "p_partkey"),
        ],
    ).orderBy("check_name")


ORACLE["ext_data_quality"] = """
        SELECT * FROM (
            SELECT 'not_null:l_orderkey' AS check_name,
                   COUNT(*) AS n_violations
            FROM lineitem WHERE l_orderkey IS NULL
            UNION ALL
            SELECT 'not_null:l_quantity', COUNT(*)
            FROM lineitem WHERE l_quantity IS NULL
            UNION ALL
            SELECT 'unique:l_orderkey,l_linenumber', COUNT(*) FROM (
                SELECT 1 FROM lineitem
                GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
            )
            UNION ALL
            SELECT 'fk:l_orderkey->o_orderkey', COUNT(*)
            FROM lineitem l WHERE NOT EXISTS (
                SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
            )
            UNION ALL
            SELECT 'fk:l_partkey->p_partkey', COUNT(*)
            FROM lineitem l WHERE NOT EXISTS (
                SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey
            )
        ) ORDER BY check_name
    """


def ext_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on plain parquet: snapshot ⟵ change set (10% updates
    + a batch of inserts) via anti-join + union. The change set
    broadcasts; the snapshot is never shuffled."""
    from mitoscape_spark.operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    # integer-cents price: exact cross-engine arithmetic (double ROUND
    # tie behavior differs between engines at the 3rd decimal)
    target = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    updates = target.where(F.col("o_orderkey") % 10 == 0).withColumn(
        "price_cents", F.expr("price_cents * 11 div 10")
    )
    inserts = target.where(F.col("o_orderkey") % 7 == 3).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
    )
    merged = merge_upsert(target, updates.unionByName(inserts), ["o_orderkey"])
    return merged.orderBy("o_orderkey")


ORACLE["ext_merge_upsert"] = """
        WITH t AS (
            SELECT o_orderkey,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                       AS price_cents
            FROM orders
        ),
        src AS (
            SELECT o_orderkey, price_cents * 11 // 10 AS price_cents
            FROM t WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT o_orderkey + 100000000, price_cents
            FROM t WHERE o_orderkey % 7 = 3
        ),
        merged AS (
            SELECT * FROM src
            UNION ALL
            SELECT t.* FROM t WHERE NOT EXISTS (
                SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey
            )
        )
        SELECT o_orderkey, price_cents FROM merged ORDER BY o_orderkey
    """


def ext_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5 hash bands
    (80/10/10), aggregated per (split, lang) — reproducible on any
    cluster size and engine; the assignment itself is shuffle-free."""
    from mitoscape_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_splits(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split", "lang")
    )


ORACLE["ext_hash_split"] = """
        WITH s AS (
            SELECT CASE
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                    THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                ELSE 'test' END AS split, lang
            FROM documents
        )
        SELECT split, lang, COUNT(*) AS n
        FROM s GROUP BY split, lang ORDER BY split, lang
    """


def ext_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-quota stratified train/val/test split
    (operators/sampling.py::stratified_exact_split): within each lang
    stratum, rank by md5(doc_id) and cut at floor(n·cum + 0.5) — every
    (lang, split) cell gets its exact share, unlike hash-band splits
    (binomial ±√n per cell). The engine finds each cut by distributed
    filter-and-refine order statistics (uniform-hash analytic bands,
    O(√n) band collect, map-side threshold assignment — no per-stratum
    single-reducer window); the oracle IS that naive window ranking, so
    the hash match proves the scalable path equals exact ranking.
    sum(doc_id) pins the exact membership of every cell, not just its
    size."""
    from mitoscape_spark.operators.sampling import stratified_exact_split

    docs = load_table(spark, sf_dir, "documents")
    assigned = stratified_exact_split(
        docs, "lang", "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        assigned.groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("lang", "split")
    )


# the oracle IS the naive per-stratum window ranking the scalable
# filter-and-refine path exists to avoid — hash match proves the
# order-statistics machinery equals exact ranking
ORACLE["ext_stratified_split"] = """
        WITH ranked AS (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS r,
                   COUNT(*) OVER (PARTITION BY lang) AS n
            FROM documents
        ), assigned AS (
            SELECT lang, doc_id,
                   CASE WHEN r <= FLOOR(n * 0.8 + 0.5) THEN 'train'
                        WHEN r <= FLOOR(n * 0.9 + 0.5) THEN 'val'
                        ELSE 'test' END AS split
            FROM ranked
        )
        SELECT lang, split, COUNT(*) AS n,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM assigned GROUP BY lang, split ORDER BY lang, split
    """


def ext_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine-similar document pairs via the fitted ml feature
    pipeline + inverted-index join. Rows-only check (HashingTF's JVM
    murmur hash has no DuckDB equivalent); ranking quality is asserted
    in tests/test_quality_ops.py."""
    from mitoscape_spark.operators.tfidf import tfidf_similar_pairs

    docs = load_table(spark, sf_dir, "documents")
    return (
        tfidf_similar_pairs(docs, threshold=0.85)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def ext_tfidf_pairs_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash twin of ext_tfidf_pairs: the SAME sparse blocked-
    GEMM join (operators.dedup.sparse_near_duplicates) over TF-IDF
    postings, but the token→index hash is md5-derived (first 15 hex
    chars via conv base-16, mod 4096) instead of HashingTF's JVM
    murmur — so DuckDB can recompute the ENTIRE chain in exact SQL:
    tokenize (lower + \\W+ split), hash, TF, IDF ln((N+1)/(df+1)),
    L2-normalize (inside sparse_near_duplicates), all-pairs cosine.
    This oracle-pins the sparse-GEMM join shape that murmur keeps
    rows-only in ext_tfidf_pairs (round-4 verdict item 5)."""
    from mitoscape_spark.operators.dedup import sparse_near_duplicates

    n_features = 1 << 12
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "\\W+")).alias("tok"),
    ).where(F.col("tok") != "")
    idx = F.pmod(
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"),
        F.lit(n_features),
    )
    # §20 pin: tf feeds the document-frequency agg AND the postings
    # join — without it the tokenize + hash + TF lineage runs twice
    tf = (
        tok.select("doc_id", idx.alias("idx"))
        .groupBy("doc_id", "idx")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .transform(pin)
    )
    # corpus-level scalar rides the PLAN as a 1-row broadcast cross
    # join (round 12, guide §5 — it was a separate docs.count() driver
    # action, ~0.5 s of serial job floor; (N+1)/(df+1) is long/long →
    # double division either way, so the weights are bit-identical);
    # df rides the tf aggregate — tf rows are already distinct per
    # (doc, idx)
    n_docs = docs.agg(F.count(F.lit(1)).alias("_nd"))
    dfreq = tf.groupBy("idx").agg(F.count(F.lit(1)).alias("df"))
    postings = (
        tf.join(dfreq, "idx")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc_id").alias("id"),
            "idx",
            (
                F.col("tf")
                * F.log((F.col("_nd") + F.lit(1)) / (F.col("df") + F.lit(1)))
            ).alias("w"),
        )
    )
    return (
        sparse_near_duplicates(postings, n_dims=n_features, threshold=0.85)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


# full TF-IDF chain recomputed portably: md5-derived feature hash,
# ln((N+1)/(df+1)) IDF, L2 normalization, all-pairs cosine — pins
# the sparse blocked-GEMM join of sparse_near_duplicates
ORACLE["ext_tfidf_pairs_hashed"] = r"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\W+')) AS tok
            FROM documents
        ), hashed AS (
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT)
                        % 4096 AS BIGINT) AS idx
            FROM tok WHERE tok <> ''
        ), tf AS (
            SELECT doc_id, idx, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM hashed GROUP BY 1, 2
        ), dfreq AS (
            SELECT idx, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
        ), n AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
        ), w AS (
            SELECT tf.doc_id, tf.idx,
                   tf.tf * ln((n.n_docs + 1) / (dfreq.df + 1)) AS w
            FROM tf JOIN dfreq USING (idx) CROSS JOIN n
        ), nrm AS (
            SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY 1
        ), p AS (
            SELECT w.doc_id, w.idx, w.w / nrm.nrm AS wn
            FROM w JOIN nrm USING (doc_id) WHERE nrm.nrm > 0
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(SUM(a.wn * b.wn), 4) AS cosine
        FROM p a JOIN p b ON a.idx = b.idx AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING SUM(a.wn * b.wn) >= 0.85
        ORDER BY 1, 2
    """


def ext_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: grouped-agg pandas UDF (geometric mean of
    1+n_chars per lang). Python aggregates have no partial/merge phase —
    the oracle's exp(avg(ln(1+x))) decomposition is what you'd ship for
    hot keys (functions/aggregates.py docstring)."""
    from mitoscape_spark.functions.aggregates import geometric_mean_1p

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.round(geometric_mean_1p("n_chars"), 4).alias("geomean_chars"))
        .orderBy("lang")
    )


ORACLE["ext_udaf_geomean"] = """
        SELECT lang,
               ROUND(EXP(AVG(LN(1 + n_chars))), 4) AS geomean_chars
        FROM documents GROUP BY lang ORDER BY lang
    """


def ext_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, vs ext_sliding_sum's row-based):
    per-user rolling 1-hour sum keyed on exact event-time microseconds.
    One shuffle on user_id; WindowExec streams each sorted partition."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    w = (
        W.partitionBy("user_id")
        # parquet may surface ts as TIMESTAMP_NTZ; unix_micros requires
        # TIMESTAMP — with the session pinned to UTC the cast is exact
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-hour_us, 0)
    )
    return (
        events.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 4).alias("hour_sum"),
        )
        .orderBy("user_id", "event_id")
    )


ORACLE["ext_range_window"] = """
        SELECT user_id, event_id,
               ROUND(SUM(value) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
               ), 4) AS hour_sum
        FROM events ORDER BY user_id, event_id
    """


def ext_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE-style pre-tokenization (GPT-2 split regex, lookaround-
    free subset) — tokens + total/distinct counts, all JVM-side.

    The library operator (``operators.textstats.bpe_tokens``) returns
    the raw ``array<string>`` column; the *declared* query joins it
    into one \\x01-separated string (tokens may themselves contain
    spaces) because the driver's pandas canonicalizer cannot sort
    array cells (round-5 verdict item 1 — ``TypeError: unhashable
    type: 'numpy.ndarray'``)."""
    from mitoscape_spark.operators.textstats import bpe_tokens

    docs = load_table(spark, sf_dir, "documents")
    # NULL text: Spark's concat_ws over a NULL array yields '' while the
    # oracle's array_to_string yields NULL (and size(NULL) is -1 vs len
    # NULL) — coalesce to '' on BOTH sides so a future fixture with NULL
    # text can't hash-mismatch (round-6 advice item 1)
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    return (
        bpe_tokens(docs)
        .select(
            "doc_id",
            F.concat_ws("", F.col("bpe_tokens")).alias("bpe_tokens_str"),
            "n_bpe_tokens",
            "n_bpe_distinct",
        )
        .orderBy("doc_id")
    )


ORACLE["ext_bpe_tokens"] = (
    # COALESCE(text,'') mirrors the declared query's NULL-text coalesce
    # (Spark concat_ws('')/size() vs DuckDB array_to_string/len diverge
    # on NULL input — round-6 advice item 1)
    "WITH d AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents)\n"
    "SELECT doc_id,\n"
    "       array_to_string(regexp_extract_all(text, '" + _BPE_PAT_SQL
    + "'), chr(1)) AS bpe_tokens_str,\n"
    "       len(regexp_extract_all(text, '" + _BPE_PAT_SQL + "'))\n"
    "           AS n_bpe_tokens,\n"
    "       len(list_distinct(regexp_extract_all(text, '" + _BPE_PAT_SQL
    + "'))) AS n_bpe_distinct\n"
    "FROM d ORDER BY doc_id"
)


def ext_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through the VARIANT type (Spark 4):
    ``parse_json`` decodes events.props into the shredding-ready binary
    variant encoding once, ``variant_get`` then extracts typed paths
    without re-parsing — the modern columnar answer to heterogeneous
    JSON at scale (vs ``from_json``, which needs a fixed schema up
    front; see ext_json_extract for that path). All JVM-side."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .where(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE["ext_variant_json"] = """
        SELECT event_type,
               COUNT(*) AS n,
               MIN(k) AS min_k,
               MAX(k) AS max_k
        FROM (
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS INT) AS k
            FROM events
        )
        WHERE k >= 50
        GROUP BY event_type
        ORDER BY event_type
    """


def ext_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over two order dimensions: all 4 grouping
    combinations in ONE pass (Catalyst Expand: map-side row replication
    ×4, still a single shuffle — no per-set rescans of the fact table).
    Grouping nulls are coalesced to 'ALL' so both engines sort/hash
    identically."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias(
                "priority"
            ),
            "n",
            "rev",
        )
        .orderBy("status", "priority")
    )


ORACLE["ext_cube"] = """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY status, priority
    """


def ext_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/bm25.py): top-15 docs for a
    3-term query. Inverted-index access path as relational plans — the
    term IN-list prunes the postings build before df/scoring, corpus
    stats broadcast, TakeOrderedAndProject top-k."""
    from mitoscape_spark.operators.bm25 import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(docs, "vector join fast", k=15)


ORACLE["ext_bm25_search"] = """
    WITH toks AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    ),
    postings AS (
        SELECT token, doc_id, dl, COUNT(*) AS tf
        FROM toks
        WHERE token IN ('fast', 'join', 'vector')
        GROUP BY token, doc_id, dl
    ),
    dfs AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df
        FROM toks
        WHERE token IN ('fast', 'join', 'vector')
        GROUP BY token
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               AVG(len(string_split(text, ' '))) AS avgdl
        FROM documents
    )
    SELECT doc_id,
           ROUND(SUM(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           ), 6) AS bm25
    FROM postings
    JOIN dfs USING (token)
    CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 15
"""


def ext_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the part co-purchase graph
    (parts sharing an order), via degree-ordered orientation
    (operators/graph.py) — the last-reducer-proof plan; top-100 by
    count. The oracle states the naive 3-way canonical-edge join,
    which must agree exactly."""
    from mitoscape_spark.operators.graph import triangle_counts

    # dedupe (order, part) BEFORE the pair explosion: repeated lines of
    # the same part in one order would multiply the self-join output
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    return (
        triangle_counts(edges)
        .orderBy(F.col("n_triangles").desc(), "id")
        .limit(100)
    )


ORACLE["ext_triangle_count"] = """
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT id, COUNT(*) AS n_triangles
    FROM (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY id
    ORDER BY n_triangles DESC, id
    LIMIT 100
"""


def _kcore_oracle_sql(k: int = 3, rounds: int = 16) -> str:
    """DuckDB restatement of ext_kcore: the peel loop unrolled as
    ``rounds`` MATERIALIZED CTE pairs (keep_r = nodes with degree ≥ k
    in e_{r-1}; e_r = edges with both endpoints kept). Over-unrolling
    past the fixpoint is safe — peeling is monotone, so extra rounds
    reproduce the same edge set verbatim (the LPA/PageRank unrolling
    argument). MATERIALIZED stops DuckDB inlining the chain
    exponentially."""
    parts = [
        """e0 AS MATERIALIZED (
            SELECT u, v FROM (
                SELECT a.l_partkey AS u, b.l_partkey AS v,
                       COUNT(*) AS w
                FROM (SELECT DISTINCT l_orderkey, l_partkey
                      FROM lineitem) a
                JOIN (SELECT DISTINCT l_orderkey, l_partkey
                      FROM lineitem) b
                  ON a.l_orderkey = b.l_orderkey
                WHERE a.l_partkey < b.l_partkey
                GROUP BY 1, 2
            ) WHERE w >= 2
        )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""k{r} AS MATERIALIZED (
            SELECT x FROM (
                SELECT u AS x FROM e{p} UNION ALL SELECT v FROM e{p}
            ) GROUP BY x HAVING COUNT(*) >= {k}
        )"""
        )
        parts.append(
            f"""e{r} AS MATERIALIZED (
            SELECT e.u, e.v FROM e{p} e
            JOIN k{r} a ON e.u = a.x JOIN k{r} b ON e.v = b.x
        )"""
        )
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f"""
        SELECT x AS id, COUNT(*) AS core_degree FROM (
            SELECT u AS x FROM e{rounds} UNION ALL
            SELECT v FROM e{rounds}
        ) GROUP BY x ORDER BY id
    """
    )


def ext_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/graph.py::k_core): the 3-core
    of the sparsified co-purchase graph (parts sharing ≥ 2 orders) —
    11 peel rounds to the fixpoint at this scale, every surviving node
    keeping core-degree ≥ 3. The oracle unrolls 16 peel rounds as
    MATERIALIZED CTEs (the same over-unrolling-safe scheme as
    ext_pagerank/ext_communities: peeling is monotone, post-fixpoint
    rounds are no-ops), so the hash match pins the entire iterative
    computation, not just its shape."""
    from mitoscape_spark.operators.graph import k_core

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .select("src", "dst")
    )
    return k_core(edges, k=3, max_rounds=16).orderBy("id")


ORACLE["ext_kcore"] = _kcore_oracle_sql()


def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequency heavy hitters (operators/heavyhitters.py): users
    with >= 80 events, via per-partition candidate generation (pigeonhole
    bound, no distinct-key shuffle) + broadcast-semi recount. The oracle
    states the naive GROUP BY ... HAVING — results must agree EXACTLY
    because the candidate set is a proven superset and the recount is
    exact."""
    from mitoscape_spark.operators.heavyhitters import exact_heavy_hitters

    events = load_table(spark, sf_dir, "events")
    return exact_heavy_hitters(events, ["user_id"], 80).orderBy("user_id")


ORACLE["ext_heavy_hitters"] = """
        SELECT user_id, COUNT(*) AS n
        FROM events
        GROUP BY user_id
        HAVING COUNT(*) >= 80
        ORDER BY user_id
    """


def ext_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition + 3-sigma anomaly flags over
    the global daily revenue series (operators/timeseries.py::
    seasonal_decompose_dow). Raw events are scanned once for the daily
    rollup; seasonal means and the residual spread are tiny broadcasts
    back onto it. ISO weekday numbering pinned in both engines."""
    from mitoscape_spark.operators.timeseries import seasonal_decompose_dow

    events = load_table(spark, sf_dir, "events")
    return seasonal_decompose_dow(events, sigma=3.0).orderBy("day")


ORACLE["ext_seasonal_dow"] = """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, SUM(value) AS total
            FROM events GROUP BY 1
        ), d2 AS (
            SELECT day, CAST(isodow(day) AS INT) AS dow, total FROM daily
        ), season AS (
            SELECT dow, AVG(total) AS dow_avg FROM d2 GROUP BY dow
        ), j AS (
            SELECT d2.day, d2.dow, d2.total, season.dow_avg,
                   d2.total - season.dow_avg AS resid
            FROM d2 JOIN season USING (dow)
        ), s AS (SELECT STDDEV_SAMP(resid) AS sd FROM j)
        SELECT day, dow,
               ROUND(total, 4) AS total,
               ROUND(dow_avg, 4) AS dow_avg,
               ROUND(resid, 4) AS resid,
               CAST(ABS(resid) > 3.0 * s.sd AS INT) AS is_anomaly
        FROM j, s
        ORDER BY day
    """


def ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup (operators/dedup.py::
    incremental_minhash_pairs): the daily-increment shape — docs < 400
    are the already-indexed corpus (persisted band index), docs >= 400
    arrive as the new batch; only pairs INVOLVING the batch are
    computed (the new band table broadcasts against the corpus index —
    the corpus is probed, never re-paired). The oracle states the
    from-scratch pair set restricted to batch-involving pairs, which
    must match exactly."""
    from mitoscape_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_bands,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    old_bands = minhash_bands(
        minhash_signatures(docs.where(F.col("doc_id") < 400))
    )
    pairs, _ = incremental_minhash_pairs(
        old_bands, docs.where(F.col("doc_id") >= 400)
    )
    return pairs.orderBy("doc_a", "doc_b")


ORACLE["ext_incremental_dedup"] = f"""
        WITH {_TOKS}, {_SHINGLES3},
        sig AS (
            SELECT doc_id, seed,
                   MIN(md5(concat(CAST(seed AS VARCHAR), '|', shingle))) AS minhash
            FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, seed // 2 AS band,
                   string_agg(minhash, ',' ORDER BY seed) AS band_key
            FROM sig GROUP BY doc_id, seed // 2
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        WHERE b.doc_id >= 400 OR a.doc_id >= 400
        ORDER BY doc_a, doc_b
    """


def ext_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/bm25.py::hybrid_search_rrf): BM25
    top-50 ∪ dense-cosine top-50 fused by reciprocal-rank fusion,
    top-15 out. Ranks assign on ROUNDED scores with id tie-breaks, so
    the DuckDB oracle reproduces the fusion exactly; the fused join
    touches 100 rows however large the corpus."""
    from mitoscape_spark.operators.bm25 import hybrid_search_rrf

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return hybrid_search_rrf(
        docs, emb, "vector join fast", list(qv), k=15, depth=50
    )


ORACLE["ext_hybrid_search"] = """
        WITH toks AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS dl,
                   unnest(string_split(lower(text), ' ')) AS token
            FROM documents
        ),
        postings AS (
            SELECT token, doc_id, dl, COUNT(*) AS tf
            FROM toks
            WHERE token IN ('fast', 'join', 'vector')
            GROUP BY token, doc_id, dl
        ),
        dfs AS (
            SELECT token, COUNT(DISTINCT doc_id) AS df
            FROM toks
            WHERE token IN ('fast', 'join', 'vector')
            GROUP BY token
        ),
        stats AS (
            SELECT COUNT(*) AS n_docs,
                   AVG(len(string_split(text, ' '))) AS avgdl
            FROM documents
        ),
        lex AS (
            SELECT doc_id AS id,
                   ROUND(SUM(
                       ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                   ), 6) AS bm25
            FROM postings
            JOIN dfs USING (token)
            CROSS JOIN stats
            GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id
            LIMIT 50
        ),
        lexr AS (
            SELECT id,
                   CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS INT)
                       AS r_lex
            FROM lex
        ),
        q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = 0
        ),
        dense AS (
            SELECT vec_id AS id,
                   ROUND(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), q.qv), 6) AS cos
            FROM embeddings, q
            ORDER BY cos DESC, id LIMIT 50
        ),
        denser AS (
            SELECT id,
                   CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS INT)
                       AS r_dense
            FROM dense
        )
        SELECT COALESCE(l.id, d.id) AS id,
               ROUND(COALESCE(1.0 / (60 + r_lex), 0)
                     + COALESCE(1.0 / (60 + r_dense), 0), 6) AS rrf,
               r_lex, r_dense
        FROM lexr l FULL OUTER JOIN denser d ON l.id = d.id
        ORDER BY rrf DESC, id LIMIT 15
    """


def ext_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-straddle first-fit-decreasing packing of documents (token
    budget 600, whitespace token counts): per-pack (n_docs, fill) for
    the fullest 200 packs. Partition-local FFD (operators/packing.py::
    bin_pack_ffd) — rows-only (bin packing isn't SQL-expressible);
    budget/waste/determinism pinned in tests."""
    from mitoscape_spark.operators.packing import bin_pack_ffd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = bin_pack_ffd(docs, budget=600, n_groups=8)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("fill"),
        )
        .orderBy(F.col("fill").desc(), "pack_id")
        .limit(200)
    )


def ext_pack_ffd_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-checked invariants of the FFD packing (round-3 verdict #4 —
    the driver-checkable companion to the rows-only ext_pack_ffd):
    row multiset preserved (n_docs), token mass preserved
    (total_tokens), every pack within budget (no_overflow), and pack
    count at/above the ceil(Σtokens/budget) bin-packing lower bound
    (lb_ok). The oracle derives the counts independently from the
    documents table and states the booleans as 1 — any packing defect
    (lost/duplicated row, overfull pack, impossible pack count) flips
    a value and hash-mismatches."""
    from mitoscape_spark.operators.packing import bin_pack_ffd

    budget = 600
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = bin_pack_ffd(docs, budget=budget, n_groups=8)
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.count(F.lit(1)).alias("n_in_pack"),
    )
    return per_pack.agg(
        F.sum("n_in_pack").cast("long").alias("n_docs"),
        F.sum("fill").cast("long").alias("total_tokens"),
        F.max(
            (F.col("fill") > F.lit(budget)).cast("int")
        ).alias("overflow_packs"),  # 0 iff every pack fits
        (
            F.count(F.lit(1))
            >= F.ceil(F.sum("fill") / F.lit(float(budget)))
        ).cast("int").alias("lb_ok"),
    )


ORACLE["ext_pack_ffd_invariants"] = """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                   AS total_tokens,
               0 AS overflow_packs,
               1 AS lb_ok
        FROM documents
    """


def ext_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report (operators/drift.py): PSI of the
    post-1997 lineitem slice against the pre-1997 reference, three
    measures at once — one scan per side regardless of column count
    (stack melt → broadcast bin edges → two tiny hash aggs). The oracle
    restates the identical floor/clamp/epsilon arithmetic in SQL, so
    results hash-match bit-for-bit."""
    from mitoscape_spark.operators.drift import drift_report

    li = load_table(spark, sf_dir, "lineitem")
    split = "1997-01-01"
    ref = li.where(F.col("l_shipdate") < split)
    cur = li.where(F.col("l_shipdate") >= split)
    return drift_report(
        ref, cur, ["l_quantity", "l_extendedprice", "l_discount"], bins=10
    ).orderBy("col_name")


ORACLE["ext_drift_psi"] = """
        WITH refm AS (
            SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS value
            FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
            UNION ALL
            SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
            FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
            UNION ALL
            SELECT 'l_discount', CAST(l_discount AS DOUBLE)
            FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
        ), curm AS (
            SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS value
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            UNION ALL
            SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            UNION ALL
            SELECT 'l_discount', CAST(l_discount AS DOUBLE)
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        ), edges AS (
            SELECT col_name, MIN(value) AS lo, MAX(value) AS hi
            FROM refm WHERE value IS NOT NULL GROUP BY col_name
        ), rb AS (
            SELECT r.col_name,
                   CASE WHEN (e.hi - e.lo) / 10 <= 0 THEN 0
                        ELSE CAST(LEAST(GREATEST(FLOOR(
                            (r.value - e.lo) / ((e.hi - e.lo) / 10)), 0), 9)
                        AS INT) END AS bin,
                   COUNT(*) AS n_ref
            FROM refm r JOIN edges e USING (col_name)
            WHERE r.value IS NOT NULL
            GROUP BY 1, 2
        ), cb AS (
            SELECT c.col_name,
                   CASE WHEN (e.hi - e.lo) / 10 <= 0 THEN 0
                        ELSE CAST(LEAST(GREATEST(FLOOR(
                            (c.value - e.lo) / ((e.hi - e.lo) / 10)), 0), 9)
                        AS INT) END AS bin,
                   COUNT(*) AS n_cur
            FROM curm c JOIN edges e USING (col_name)
            WHERE c.value IS NOT NULL
            GROUP BY 1, 2
        ), j AS (
            SELECT COALESCE(rb.col_name, cb.col_name) AS col_name,
                   COALESCE(rb.bin, cb.bin) AS bin,
                   COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
            FROM rb FULL OUTER JOIN cb
              ON rb.col_name = cb.col_name AND rb.bin = cb.bin
        ), t AS (
            SELECT col_name, SUM(n_ref) AS tr, SUM(n_cur) AS tc
            FROM j GROUP BY col_name
        )
        SELECT j.col_name,
               ROUND(SUM(
                   (GREATEST(n_cur / t.tc, 1e-6)
                    - GREATEST(n_ref / t.tr, 1e-6))
                   * LN(GREATEST(n_cur / t.tc, 1e-6)
                        / GREATEST(n_ref / t.tr, 1e-6))
               ), 6) AS psi
        FROM j JOIN t ON j.col_name = t.col_name
        GROUP BY j.col_name
        ORDER BY j.col_name
    """


def ext_drift_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-PSI drift (operators/drift.py::
    drift_report_categorical): per-VALUE frequency PSI of the string
    columns lang/source between even- and odd-id document halves — the
    corpus-prep drift question ("did the language mix shift?") the
    numeric histogram path cannot answer. The oracle restates the
    identical frequency/epsilon-clamp arithmetic in SQL, so results
    hash-match."""
    from mitoscape_spark.operators.drift import drift_report_categorical

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
    cur = docs.where(F.pmod("doc_id", F.lit(2)) == 1)
    return drift_report_categorical(ref, cur, ["lang", "source"]).orderBy(
        "col_name"
    )


ORACLE["ext_drift_categorical"] = """
        WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        cur AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        refm AS (
            SELECT 'lang' AS col_name,
                   COALESCE(CAST(lang AS VARCHAR), ' __null__') AS value
            FROM ref
            UNION ALL
            SELECT 'source', COALESCE(CAST(source AS VARCHAR), ' __null__')
            FROM ref
        ), curm AS (
            SELECT 'lang' AS col_name,
                   COALESCE(CAST(lang AS VARCHAR), ' __null__') AS value
            FROM cur
            UNION ALL
            SELECT 'source', COALESCE(CAST(source AS VARCHAR), ' __null__')
            FROM cur
        ), rc AS (
            SELECT col_name, value, COUNT(*) AS n_ref
            FROM refm GROUP BY 1, 2
        ), cc AS (
            SELECT col_name, value, COUNT(*) AS n_cur
            FROM curm GROUP BY 1, 2
        ), j AS (
            SELECT COALESCE(rc.col_name, cc.col_name) AS col_name,
                   COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
            FROM rc FULL OUTER JOIN cc
              ON rc.col_name = cc.col_name AND rc.value = cc.value
        ), t AS (
            SELECT col_name, SUM(n_ref) AS tr, SUM(n_cur) AS tc
            FROM j GROUP BY col_name
        )
        SELECT j.col_name,
               ROUND(SUM(
                   (GREATEST(n_cur / t.tc, 1e-6)
                    - GREATEST(n_ref / t.tr, 1e-6))
                   * LN(GREATEST(n_cur / t.tc, 1e-6)
                        / GREATEST(n_ref / t.tr, 1e-6))
               ), 6) AS psi
        FROM j JOIN t ON j.col_name = t.col_name
        GROUP BY j.col_name
        ORDER BY j.col_name
    """


def ext_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate (pipeline/quality_model.py): hashed-TF
    logistic regression distilled from the Gopher rule teacher, scoring
    every document; output is the score histogram (decile, n_docs).
    Rows-only — LR training is iterative float optimization, not
    SQL-expressible; teacher/student separation is pinned in
    tests/test_quality_model.py."""
    from mitoscape_spark.pipeline.quality_model import (
        bootstrap_labels,
        score_quality,
        train_quality_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    labeled = bootstrap_labels(docs)
    model = train_quality_model(labeled, seed=7)
    scores = score_quality(model, docs)
    return (
        scores.select(
            F.least(F.floor(F.col("prob_good") * 10), F.lit(9))
            .cast("int")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("decile")
    )


def ext_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    measures (operators/profile.py::correlation_matrix) — all 6 pairs
    in ONE aggregation job (no per-pair rescans). Oracle: DuckDB's
    corr(), same sample semantics, rounded for float stability."""
    from mitoscape_spark.operators.profile import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], digits=4
    ).orderBy("col_a", "col_b")


ORACLE["ext_corr_matrix"] = """
        WITH one AS (
            SELECT
                ROUND(corr(l_quantity, l_extendedprice), 4) AS c0,
                ROUND(corr(l_quantity, l_discount), 4) AS c1,
                ROUND(corr(l_quantity, l_tax), 4) AS c2,
                ROUND(corr(l_extendedprice, l_discount), 4) AS c3,
                ROUND(corr(l_extendedprice, l_tax), 4) AS c4,
                ROUND(corr(l_discount, l_tax), 4) AS c5
            FROM lineitem
        )
        SELECT col_a, col_b, corr FROM (
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, c0 AS corr FROM one
            UNION ALL SELECT 'l_quantity', 'l_discount', c1 FROM one
            UNION ALL SELECT 'l_quantity', 'l_tax', c2 FROM one
            UNION ALL SELECT 'l_extendedprice', 'l_discount', c3 FROM one
            UNION ALL SELECT 'l_extendedprice', 'l_tax', c4 FROM one
            UNION ALL SELECT 'l_discount', 'l_tax', c5 FROM one
        )
        ORDER BY col_a, col_b
    """


def ext_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop distances (operators/graph.py::shortest_hops) from
    supplier 1 over the undirected bulk-order supplier–part graph,
    bounded at 3 hops. Frontier BFS — per-round work tracks NEWLY
    reached nodes; the oracle states the unrolled hop-set expansion
    with a MIN over levels, which must agree exactly because hop
    minimality is independent of expansion strategy."""
    from mitoscape_spark.operators.graph import shortest_hops

    li = load_table(spark, sf_dir, "lineitem")
    # §20 pin: the undirected union embeds fwd twice in ONE plan —
    # without it the lineitem scan + filter + distinct runs twice
    fwd = (
        li.where(F.col("l_quantity") >= 48)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
        )
        .distinct()
        .transform(pin)
    )
    undirected = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sources = spark.range(1, 2).select(F.col("id"))
    return shortest_hops(undirected, sources, max_hops=3).orderBy("id")


ORACLE["ext_graph_bfs"] = """
        WITH e AS (
            SELECT DISTINCT l_suppkey AS s, l_partkey + 1000000 AS d
            FROM lineitem WHERE l_quantity >= 48
        ), ed AS (
            SELECT s, d FROM e UNION SELECT d, s FROM e
        ), d0 AS (SELECT CAST(1 AS BIGINT) AS id),
        h1 AS (SELECT DISTINCT ed.d AS id FROM ed JOIN d0 ON ed.s = d0.id),
        h2 AS (SELECT DISTINCT ed.d AS id FROM ed JOIN h1 ON ed.s = h1.id),
        h3 AS (SELECT DISTINCT ed.d AS id FROM ed JOIN h2 ON ed.s = h2.id),
        lv AS (
            SELECT id, 0 AS dist FROM d0
            UNION ALL SELECT id, 1 FROM h1
            UNION ALL SELECT id, 2 FROM h2
            UNION ALL SELECT id, 3 FROM h3
        )
        SELECT id, CAST(MIN(dist) AS INT) AS dist
        FROM lv GROUP BY id ORDER BY id
    """


def ext_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash
    (operators/images.py): decode the synthetic PPM/BMP corpus once
    (Arrow mapInPandas), 64-bit aHash, 4×16-bit banded equi-join +
    bit_count verify — exact for hamming <= 3, never all-pairs.

    ORACLE-checked end-to-end (round 4): the corpus pixels are a
    closed-form function of doc_id, so DuckDB recomputes every aHash
    bit in EXACT integer arithmetic (bit_i ⟺ 64·s_i > Σs, with s_i
    the pixel's channel sum — algebraically identical to numpy's
    float gray>mean; verified bit-identical for all image doc_ids up
    to 60k including the 156 tie cases) and brute-forces the hamming
    pairs. A hash match therefore pins the WHOLE chain: PPM/BMP
    encode → stdlib decode → aHash → banded join → verify."""
    from mitoscape_spark.operators.images import (
        average_hashes,
        phash_near_duplicates,
    )
    from mitoscape_spark.sources.multimodal import synthetic_decodable_media

    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_decodable_media(spark, docs)
    pairs = phash_near_duplicates(average_hashes(media), max_hamming=3)
    return pairs.orderBy("id_a", "id_b").limit(1000)


ORACLE["ext_image_phash"] = """
        WITH img AS (
            SELECT doc_id FROM documents WHERE doc_id % 3 IN (1, 2)
        ), px AS (
            SELECT doc_id, i,
                   ((3*i) * (doc_id+7)) % 256
                 + ((3*i+1) * (doc_id+7)) % 256
                 + ((3*i+2) * (doc_id+7)) % 256 AS s
            FROM img, UNNEST(generate_series(0, 63)) AS t(i)
        ), tot AS (
            SELECT doc_id, SUM(s) AS ts FROM px GROUP BY doc_id
        ), bits AS (
            -- exact-integer form of aHash's gray > mean(gray):
            -- gray_i = s_i/3, mean = (Σ s_j/3)/64  ⟺  64*s_i > Σ s_j
            SELECT px.doc_id, px.i,
                   CASE WHEN 64 * px.s > tot.ts THEN 1 ELSE 0 END AS bit
            FROM px JOIN tot USING (doc_id)
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                       AS hamming
            FROM bits a JOIN bits b
              ON a.i = b.i AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
        FROM pairs WHERE hamming <= 3
        ORDER BY id_a, id_b LIMIT 1000
    """


def ext_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicates over the synthetic multi-frame corpus:
    frame_sample windows payloads in place → per-frame aHash (Arrow
    batches) → shared-hash inverted-index join + Jaccard over frame-hash
    sets (operators/images.py::video_near_duplicates).

    ORACLE-checked end-to-end (round 4, same scheme as
    ext_image_phash): frame pixels are a closed-form function of
    (doc_id, frame), so DuckDB recomputes every frame-hash bit in
    exact integer arithmetic (verified bit-identical vs numpy for all
    195k distinct frame multipliers up to doc 60k), re-derives the
    frame-hash SETS as 64-char bit strings, and restates the
    shared-hash Jaccard join — pinning frame windowing, PPM decode,
    aHash, and the set-overlap join in one hash match."""
    from mitoscape_spark.operators.images import (
        video_frame_hashes,
        video_near_duplicates,
    )
    from mitoscape_spark.sources.multimodal import synthetic_video_corpus

    docs = load_table(spark, sf_dir, "documents")
    videos = synthetic_video_corpus(spark, docs, n_frames=8)
    hashes = video_frame_hashes(videos, every_n=2)
    pairs = video_near_duplicates(hashes, min_overlap=0.5)
    return pairs.orderBy("id_a", "id_b").limit(1000)


ORACLE["ext_video_neardup"] = """
        WITH frames AS (
            SELECT doc_id, f,
                   CASE WHEN doc_id % 4 = 1 AND f = 0
                        THEN (doc_id - 1 + 100003) * 31 + f*7 + 11
                        WHEN doc_id % 4 = 1
                        THEN (doc_id - 1) * 31 + f*7 + 11
                        ELSE doc_id * 31 + f*7 + 11 END AS m
            FROM documents, UNNEST([0, 2, 4, 6]) AS t(f)
        ), px AS (
            SELECT doc_id, f, i,
                   ((3*i) * m) % 251
                 + ((3*i+1) * m) % 251
                 + ((3*i+2) * m) % 251 AS s
            FROM frames, UNNEST(generate_series(0, 63)) AS u(i)
        ), tot AS (
            SELECT doc_id, f, SUM(s) AS ts FROM px GROUP BY doc_id, f
        ), bits AS (
            SELECT px.doc_id, px.f, px.i,
                   CASE WHEN 64 * px.s > tot.ts
                        THEN '1' ELSE '0' END AS b
            FROM px JOIN tot USING (doc_id, f)
        ), hashes AS (
            SELECT doc_id, f, STRING_AGG(b, '' ORDER BY i) AS h
            FROM bits GROUP BY doc_id, f
        ), sigs AS (
            SELECT DISTINCT doc_id, h FROM hashes
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sigs GROUP BY doc_id
        ), sh AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   COUNT(*) AS n_shared
            FROM sigs a JOIN sigs b
              ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS shared,
               ROUND(n_shared * 1.0 / (na.n + nb.n - n_shared), 6)
                   AS jaccard
        FROM sh JOIN sizes na ON na.doc_id = sh.id_a
                JOIN sizes nb ON nb.doc_id = sh.id_b
        -- Spark filters on the ROUNDED jaccard; mirror exactly
        WHERE ROUND(n_shared * 1.0 / (na.n + nb.n - n_shared), 6) >= 0.5
        ORDER BY id_a, id_b LIMIT 1000
    """


def ext_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum PSI (operators/drift.py::drift_report_grouped): does
    any SOURCE's n_chars distribution drift between the first and
    second half of the corpus, each source judged against its own
    baseline edges. The oracle restates the identical per-(group,col)
    floor/clamp/epsilon arithmetic."""
    from mitoscape_spark.operators.drift import drift_report_grouped

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") < 250)
    cur = docs.where(F.col("doc_id") >= 250)
    return drift_report_grouped(
        ref, cur, "source", ["n_chars"], bins=8
    ).orderBy("source", "col_name")


ORACLE["ext_drift_by_source"] = """
        WITH refm AS (
            SELECT source AS grp, CAST(n_chars AS DOUBLE) AS value
            FROM documents WHERE doc_id < 250 AND n_chars IS NOT NULL
        ), curm AS (
            SELECT source AS grp, CAST(n_chars AS DOUBLE) AS value
            FROM documents WHERE doc_id >= 250 AND n_chars IS NOT NULL
        ), edges AS (
            SELECT grp, MIN(value) AS lo, MAX(value) AS hi
            FROM refm GROUP BY grp
        ), rb AS (
            SELECT r.grp,
                   CASE WHEN (e.hi - e.lo) / 8 <= 0 THEN 0
                        ELSE CAST(LEAST(GREATEST(FLOOR(
                            (r.value - e.lo) / ((e.hi - e.lo) / 8)), 0), 7)
                        AS INT) END AS bin,
                   COUNT(*) AS n_ref
            FROM refm r JOIN edges e USING (grp)
            GROUP BY 1, 2
        ), cb AS (
            SELECT c.grp,
                   CASE WHEN (e.hi - e.lo) / 8 <= 0 THEN 0
                        ELSE CAST(LEAST(GREATEST(FLOOR(
                            (c.value - e.lo) / ((e.hi - e.lo) / 8)), 0), 7)
                        AS INT) END AS bin,
                   COUNT(*) AS n_cur
            FROM curm c JOIN edges e USING (grp)
            GROUP BY 1, 2
        ), j AS (
            SELECT COALESCE(rb.grp, cb.grp) AS grp,
                   COALESCE(rb.bin, cb.bin) AS bin,
                   COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
            FROM rb FULL OUTER JOIN cb
              ON rb.grp = cb.grp AND rb.bin = cb.bin
        ), t AS (
            SELECT grp, SUM(n_ref) AS tr, SUM(n_cur) AS tc
            FROM j GROUP BY grp
        )
        SELECT j.grp AS source, 'n_chars' AS col_name,
               ROUND(SUM(
                   (GREATEST(n_cur / t.tc, 1e-6)
                    - GREATEST(n_ref / t.tr, 1e-6))
                   * LN(GREATEST(n_cur / t.tc, 1e-6)
                        / GREATEST(n_ref / t.tr, 1e-6))
               ), 6) AS psi
        FROM j JOIN t ON j.grp = t.grp
        WHERE t.tr > 0 AND t.tc > 0
        GROUP BY j.grp
        ORDER BY source, col_name
    """


def ext_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (operators/expectations.py)
    over orders: six rules — five riding ONE aggregation pass, the
    uniqueness rule one key-count agg — reported as (rule, violations,
    passed). The oracle restates each count in SQL; results must match
    exactly."""
    from mitoscape_spark.operators.expectations import validate

    orders = load_table(spark, sf_dir, "orders")
    rules = [
        {"rule": "not_null", "col": "o_custkey"},
        {"rule": "in_range", "col": "o_totalprice",
         "lo": 1000.0, "hi": 400000.0},
        {"rule": "regex", "col": "o_orderpriority", "pattern": "^[1-3]-"},
        {"rule": "accepted_values", "col": "o_orderstatus",
         "values": ["O", "F"]},
        {"rule": "expression", "name": "key_even", "sql": "o_orderkey % 2 = 0"},
        {"rule": "unique", "cols": ["o_orderkey"]},
    ]
    return validate(orders, rules)


ORACLE["ext_expectations"] = """
        WITH v AS (
            SELECT 0 AS rule_id, 'not_null' AS rule, 'o_custkey' AS target,
                   (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                       AS n_violations
            UNION ALL
            SELECT 1, 'in_range', 'o_totalprice',
                   (SELECT COUNT(*) FROM orders
                    WHERE o_totalprice IS NOT NULL
                      AND (o_totalprice < 1000.0 OR o_totalprice > 400000.0))
            UNION ALL
            SELECT 2, 'regex', 'o_orderpriority',
                   (SELECT COUNT(*) FROM orders
                    WHERE o_orderpriority IS NOT NULL
                      AND NOT regexp_matches(o_orderpriority, '^[1-3]-'))
            UNION ALL
            SELECT 3, 'accepted_values', 'o_orderstatus',
                   (SELECT COUNT(*) FROM orders
                    WHERE o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O', 'F'))
            UNION ALL
            SELECT 4, 'expression', 'key_even',
                   (SELECT COUNT(*) FROM orders
                    WHERE NOT COALESCE(o_orderkey % 2 = 0, FALSE))
            UNION ALL
            SELECT 5, 'unique', 'o_orderkey',
                   (SELECT COALESCE(SUM(n - 1), 0) FROM (
                        SELECT COUNT(*) AS n FROM orders
                        GROUP BY o_orderkey HAVING COUNT(*) > 1))
        )
        SELECT rule_id, rule, target,
               CAST(n_violations AS BIGINT) AS n_violations,
               CAST(n_violations = 0 AS INT) AS passed
        FROM v ORDER BY rule_id
    """


def ext_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality near-dedup capstone: text MinHash pairs ∪ image
    perceptual-hash pairs ∪ audio fingerprint pairs over ONE corpus
    (documents + their derived media, shared doc_id key) feed a single
    connected-components pass; each duplicate component keeps its
    smallest id. A pair in ANY modality links the documents — the
    union-graph semantics production multimodal dedup needs (a
    re-encoded image with rewritten alt-text still collapses).
    Output: per-modality pair counts + component/survivor totals (one
    row). Rows-only; component math is pinned by the per-modality
    operator tests + the connected-components suite."""
    from mitoscape_spark.operators.audio import audio_fingerprints
    from mitoscape_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
        minhash_signatures,
    )
    from mitoscape_spark.operators.images import (
        average_hashes,
        phash_near_duplicates,
    )
    from mitoscape_spark.sources.multimodal import (
        synthetic_audio_corpus,
        synthetic_decodable_media,
    )

    docs = load_table(spark, sf_dir, "documents")

    # the three pipeline BUILDS run on a small thread pool: each one
    # front-loads Catalyst planning for its §20 pins (~0.3–0.9 s per
    # lazy localCheckpoint, measured), which is pure driver/JVM work
    # with NO Spark jobs — so overlapping them is safe (no scheduler
    # state is touched) and hides most of the per-pin planning floor
    def _text():
        return minhash_candidate_pairs(
            minhash_signatures(docs), max_bucket_size=256
        ).withColumn("m", F.lit("text"))

    def _image():
        return phash_near_duplicates(
            average_hashes(synthetic_decodable_media(spark, docs)),
            max_hamming=3,
        ).select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.lit("image").alias("m"),
        )

    def _audio():
        return phash_near_duplicates(
            audio_fingerprints(synthetic_audio_corpus(spark, docs)),
            max_hamming=7,
        ).select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.lit("audio").alias("m"),
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as _ex:
        _ft, _fi, _fa = _ex.submit(_text), _ex.submit(_image), _ex.submit(_audio)
        text_pairs, image_pairs, audio_pairs = (
            _ft.result(), _fi.result(), _fa.result(),
        )
    # Round 12 (VERDICT r11 item 3 — fold the report's serial actions):
    # ONE grouped aggregation turns the tagged union into the distinct
    # pair set WITH per-modality tallies attached, so one stats action
    # yields the per-modality counts AND the union-pair count (and
    # materializes the pin the CC pass reads). The old shape spent four
    # serial jobs on the same figures: eager tagged materialization,
    # by-modality collect, distinct-pair count, and the CC gate probe —
    # the probe now rides the certified pair count via n_edges.
    tagged = text_pairs.unionByName(image_pairs).unionByName(audio_pairs)
    per_pair = (
        tagged.groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("m") == "text").cast("long")).alias("_t"),
            F.sum((F.col("m") == "image").cast("long")).alias("_i"),
            F.sum((F.col("m") == "audio").cast("long")).alias("_a"),
        )
        .transform(pin)
    )
    stats = per_pair.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.sum("_t").alias("text"),
        F.sum("_i").alias("image"),
        F.sum("_a").alias("audio"),
    ).first()
    comp = connected_components(
        per_pair.select("doc_a", "doc_b"), n_edges=int(stats["pairs"])
    )
    # survivors = docs minus non-canonical component members; every
    # component id IS a doc id (all pairs derive from this corpus), so
    # the count is pure arithmetic — the anti-join corpus scan of
    # dedup_keep_canonical re-derived a count the labels already hold.
    # The corpus doc count rides the SAME action as the loser count
    # (unionAll of two one-row aggregates — one collect, no broadcast),
    # so the report runs exactly 3 driver actions: the stats/pin
    # materialization, the CC edge collect (gate pre-certified via
    # n_edges), and this tail collect.
    tail = {
        r["_k"]: int(r["n"])
        for r in comp.where(F.col("id") != F.col("component"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("losers").alias("_k"), "n")
        .unionAll(
            docs.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("docs").alias("_k"), "n"
            )
        )
        .collect()
    }
    n_losers, n_docs = tail["losers"], tail["docs"]
    return spark.createDataFrame(
        [
            (
                n_docs,
                int(stats["text"] or 0),
                int(stats["image"] or 0),
                int(stats["audio"] or 0),
                int(stats["pairs"]),
                n_docs - n_losers,
            )
        ],
        "n_docs long, n_text_pairs long, n_image_pairs long, "
        "n_audio_pairs long, n_union_pairs long, n_survivors long",
    )


def ext_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicates (operators/audio.py): spectral 64-bit
    fingerprints (Haitsma-Kalker differential-energy bits over
    log-band rFFT) on the synthetic WAV corpus with planted re-mastered
    clips, paired by the SAME banded-hamming plan image dedup uses
    (8x8-bit bands, sound to hamming 7). Rows-only — and provably has
    to stay so, unlike the image/video queries that got closed-form
    oracles in round 4: the bit derivation thresholds the double
    differential ΔΔE at exactly 0, and this corpus produces cells
    where ΔΔE == 0.0 to the last ulp (measured: the worst relative
    margin over 1,000 clips is exactly 0), so ANY cross-engine
    float-summation-order difference in a SQL DFT restatement could
    flip bits nondeterministically. The fingerprint invariances and
    pairing recall are pinned in tests/test_audio_fingerprint.py."""
    from mitoscape_spark.operators.audio import audio_fingerprints
    from mitoscape_spark.operators.images import phash_near_duplicates
    from mitoscape_spark.sources.multimodal import synthetic_audio_corpus

    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_audio_corpus(spark, docs)
    pairs = phash_near_duplicates(
        audio_fingerprints(media), max_hamming=7
    )
    return pairs.orderBy("id_a", "id_b").limit(1000)


def ext_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension load (operators/scd.py): customer snapshot
    as version 0, one derived change batch (custkey%7 rows re-addressed,
    custkey%13 minted as new members under key+1e6, including no-op
    updates that must NOT version) applied as batch 1. The oracle states
    the closed/unchanged/opened union directly; null-safe tracked-column
    comparison on both sides."""
    from mitoscape_spark.operators.scd import scd2_apply, scd2_init

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
    )
    dim = scd2_init(base, batch_id=0)
    changes = (
        base.where(F.col("id") % 7 == 0)
        .select("id", F.upper("name").alias("name"), "seg")
        .unionByName(
            base.where(F.col("id") % 13 == 0).select(
                (F.col("id") + F.lit(1_000_000)).alias("id"),
                "name",
                F.lit("NEW").alias("seg"),
            )
        )
        .unionByName(
            # no-op updates: identical payload must NOT mint a version
            base.where((F.col("id") % 11 == 0) & (F.col("id") % 7 != 0))
        )
    )
    return scd2_apply(
        dim, changes, ["id"], ["name", "seg"], batch_id=1
    ).orderBy("id", "is_current", "effective_from")


ORACLE["ext_scd2"] = """
        WITH base AS (
            SELECT c_custkey AS id, c_name AS name, c_mktsegment AS seg
            FROM customer
        ), chg AS (
            SELECT id, UPPER(name) AS name, seg FROM base WHERE id % 7 = 0
            UNION ALL
            SELECT id + 1000000, name, 'NEW' FROM base WHERE id % 13 = 0
            UNION ALL
            SELECT id, name, seg FROM base
            WHERE id % 11 = 0 AND id % 7 <> 0
        ), closed AS (
            SELECT b.id, b.name, b.seg,
                   0 AS effective_from, 1 AS effective_to, 0 AS is_current
            FROM base b JOIN chg c ON b.id = c.id
            WHERE b.name IS DISTINCT FROM c.name
               OR b.seg IS DISTINCT FROM c.seg
        ), unchanged AS (
            SELECT b.id, b.name, b.seg,
                   0 AS effective_from, CAST(NULL AS INT) AS effective_to,
                   1 AS is_current
            FROM base b LEFT JOIN chg c ON b.id = c.id
            WHERE c.id IS NULL
               OR (b.name IS NOT DISTINCT FROM c.name
                   AND b.seg IS NOT DISTINCT FROM c.seg)
        ), opened AS (
            SELECT c.id, c.name, c.seg,
                   1 AS effective_from, CAST(NULL AS INT) AS effective_to,
                   1 AS is_current
            FROM chg c LEFT JOIN base b ON b.id = c.id
            WHERE b.id IS NULL
               OR b.name IS DISTINCT FROM c.name
               OR b.seg IS DISTINCT FROM c.seg
        )
        SELECT * FROM closed
        UNION ALL SELECT * FROM unchanged
        UNION ALL SELECT * FROM opened
        ORDER BY id, is_current, effective_from
    """


def ext_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Pareto frontier of parts minimizing (retail price,
    size) jointly — the multi-objective "best tradeoffs" query. The
    distributed sweep (operators/skyline) replaces the oracle's O(n²)
    NOT-EXISTS anti-join with groupBy + two-phase running-min; no
    single-partition window, no quadratic pair space."""
    from mitoscape_spark.operators.skyline import skyline_2d

    part = load_table(spark, sf_dir, "part")
    return skyline_2d(
        part.select("p_partkey", "p_retailprice", "p_size"),
        "p_retailprice",
        "p_size",
    ).orderBy("p_partkey")


ORACLE["ext_skyline"] = """
    SELECT p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size <= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
    )
    ORDER BY p_partkey
"""


def ext_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: exact two-sample Kolmogorov–Smirnov distance between
    the click and purchase `value` distributions — the binning-free
    companion to ext_drift_psi. CDFs via the two-phase prefix sum;
    cost scales with distinct-value cardinality, not rows."""
    from mitoscape_spark.operators.drift import ks_statistic

    events = load_table(spark, sf_dir, "events")
    return ks_statistic(events, "value", "event_type", "click", "purchase")


ORACLE["ext_drift_ks"] = """
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), g AS (
        SELECT v, SUM(a) AS ca, SUM(b) AS cb FROM s GROUP BY v
    ), c AS (
        SELECT SUM(ca) OVER (ORDER BY v) AS fa,
               SUM(cb) OVER (ORDER BY v) AS fb
        FROM g
    ), t AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM s)
    SELECT ROUND(MAX(ABS(fa * 1.0 / na - fb * 1.0 / nb)), 6) AS ks_d,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b
    FROM c, t GROUP BY na, nb
"""


def ext_pmi_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: per-source characteristic vocabulary — top-5 tokens by
    token↔source PMI. One explode shuffle; marginals re-aggregate the
    (token, source) table; broadcast stats joins; per-group window."""
    from mitoscape_spark.operators.textstats import token_group_pmi

    docs = load_table(spark, sf_dir, "documents")
    return token_group_pmi(docs, "text", "source", top_k=5).orderBy(
        "source", "rank"
    )


ORACLE["ext_pmi_tokens"] = """
    WITH toks AS (
        SELECT source AS grp,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), c_tg AS (
        SELECT tok, grp, COUNT(*) AS c_tg FROM toks GROUP BY tok, grp
    ), c_t AS (
        SELECT tok, SUM(c_tg) AS c_t FROM c_tg GROUP BY tok
    ), c_g AS (
        SELECT grp, SUM(c_tg) AS c_g FROM c_tg GROUP BY grp
    ), tot AS (
        SELECT SUM(c_tg) AS n_total FROM c_tg
    ), scored AS (
        SELECT g.grp, g.tok, g.c_tg,
               (CAST(g.c_tg AS DOUBLE) * CAST(tot.n_total AS DOUBLE))
               / (CAST(t.c_t AS DOUBLE) * CAST(s.c_g AS DOUBLE))
               AS ratio
        FROM c_tg g
        JOIN c_t t USING (tok)
        JOIN c_g s USING (grp), tot
    )
    SELECT grp AS source, tok,
           CAST(c_tg AS BIGINT) AS n_tok_grp,
           ROUND(LN(ratio), 6) AS pmi,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY grp ORDER BY ratio DESC, tok
           ) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    ORDER BY source, rank
"""


def ext_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: corpus Zipf fit — ln(freq) ~ ln(rank) slope/intercept
    over the vocabulary; ranks from the two-phase global_rank."""
    from mitoscape_spark.operators.textstats import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs)


ORACLE["ext_zipf_slope"] = """
    WITH toks AS (
        SELECT unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), v AS (
        SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok
    ), r AS (
        SELECT freq,
               ROW_NUMBER() OVER (
                   ORDER BY -CAST(freq AS DOUBLE), tok
               ) AS rnk
        FROM v
    ), l AS (
        SELECT LN(CAST(rnk AS DOUBLE)) AS x,
               LN(CAST(freq AS DOUBLE)) AS y
        FROM r
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(COVAR_POP(x, y) / VAR_POP(x), 4) AS slope,
           ROUND(AVG(y) - COVAR_POP(x, y) / VAR_POP(x) * AVG(x), 4)
               AS intercept
    FROM l
"""


def ext_dp_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: privacy-bounded per-nation revenue release —
    per-customer contribution capping (clamp 100k) + seeded
    deterministic Laplace(clamp/eps) noise, eps = 1. Same shuffles as
    the non-private aggregate; the noise is a scalar projection."""
    from mitoscape_spark.operators.privacy import dp_sum

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        orders.join(
            F.broadcast(
                customer.select("c_custkey", "c_nationkey")
            ),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "o_custkey",
            "o_totalprice",
        )
    )
    return dp_sum(
        j,
        group_col="nation",
        value_col="o_totalprice",
        contributor_col="o_custkey",
        clamp=100_000.0,
        epsilon=1.0,
        salt="dp",
    ).orderBy("nation")


ORACLE["ext_dp_revenue"] = """
    WITH j AS (
        SELECT n.n_name AS nation, o.o_custkey AS cust,
               LEAST(GREATEST(CAST(o.o_totalprice AS DOUBLE), 0.0),
                     100000.0) AS v
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_totalprice IS NOT NULL
    ), pc AS (
        SELECT nation, cust, LEAST(SUM(v), 100000.0) AS part
        FROM j GROUP BY nation, cust
    ), g AS (
        SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_contributors,
               SUM(part) AS t
        FROM pc GROUP BY nation
    ), seeded AS (
        SELECT *,
               (('0x' || substr(md5('dp' || nation), 1, 13))::BIGINT
                + 1.0) / 4503599627370497.0 AS u
        FROM g
    )
    SELECT nation, n_contributors,
           ROUND(t + (-100000.0) * SIGN(u - 0.5)
                     * LN(1 - 2 * ABS(u - 0.5)), 2) AS noisy_sum
    FROM seeded
    ORDER BY nation
"""


def ext_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: portable Bloom runtime-filter audit — build a 4032-bit
    filter over high-value order keys (selective dim predicate), probe
    every lineitem row map-side, and report pass/true/false-positive
    counts. The oracle recomputes the EXACT same filter bit-for-bit
    (md5 positions, 63-bit words), so the false positives themselves
    are hash-checked."""
    from mitoscape_spark.operators.bloom import bloom_join_stats

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return bloom_join_stats(
        orders.where(F.col("o_totalprice") > 490000),
        "o_orderkey",
        lineitem,
        "l_orderkey",
    )


ORACLE["ext_bloom_join"] = """
    WITH bk AS (
        SELECT DISTINCT o_orderkey AS key
        FROM orders WHERE o_totalprice > 490000
    ), pos AS (
        SELECT key,
               (('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                     || CAST(key AS VARCHAR)), 1, 13)
                )::BIGINT) % 4032 AS p
        FROM bk, (SELECT unnest(range(3)) AS i)
    ), words AS (
        SELECT p // 63 AS w,
               bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS mask
        FROM pos GROUP BY 1
    ), pk AS (
        SELECT DISTINCT l_orderkey AS key
        FROM lineitem WHERE l_orderkey IS NOT NULL
    ), ppos AS (
        SELECT key,
               (('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                     || CAST(key AS VARCHAR)), 1, 13)
                )::BIGINT) % 4032 AS p
        FROM pk, (SELECT unnest(range(3)) AS i)
    ), kpass AS (
        SELECT pp.key,
               (COUNT(*) FILTER (
                   WHERE (w.mask
                          & (1::BIGINT << CAST(pp.p % 63 AS INT))) <> 0
               ) = 3) AS pass
        FROM ppos pp LEFT JOIN words w ON pp.p // 63 = w.w
        GROUP BY pp.key
    ), audit AS (
        SELECT kp.pass, (b.key IS NOT NULL) AS hit
        FROM lineitem l
        JOIN kpass kp ON l.l_orderkey = kp.key
        LEFT JOIN bk b ON l.l_orderkey = b.key
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(SUM(CASE WHEN pass AND NOT hit THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM audit
"""


def ext_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: per-document marginal novelty — fraction of a doc's
    distinct 3-shingles first minted by that doc (corpus doc_id order).
    Same two-shuffle shape as ext_boilerplate; the ingest-freshness
    curve dedup pipelines monitor."""
    from mitoscape_spark.operators.textstats import novelty_fractions

    docs = load_table(spark, sf_dir, "documents")
    return novelty_fractions(docs, n=3).orderBy("doc_id")


ORACLE["ext_novelty"] = f"""
    WITH {_TOKS}, {_SHINGLES3},
    first AS (
        SELECT shingle, MIN(doc_id) AS fd FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           ROUND(AVG(CASE WHEN f.fd = s.doc_id
                          THEN 1.0 ELSE 0.0 END), 6) AS novel_frac
    FROM sh s JOIN first f USING (shingle)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
"""


def ext_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Heaps-law vocabulary growth — cumulative tokens vs
    cumulative distinct vocabulary in doc_id order; cumulative sums via
    the two-phase prefix primitive (no global-window bottleneck)."""
    from mitoscape_spark.operators.textstats import heaps_curve

    docs = load_table(spark, sf_dir, "documents")
    return heaps_curve(docs).orderBy("doc_id")


ORACLE["ext_heaps_curve"] = """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), pd AS (
        SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
    ), ft AS (
        SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY tok
    ), nw AS (
        SELECT fd AS doc_id, COUNT(*) AS v FROM ft GROUP BY fd
    )
    SELECT p.doc_id,
           CAST(SUM(p.n) OVER (ORDER BY p.doc_id) AS BIGINT)
               AS cum_tokens,
           CAST(SUM(COALESCE(w.v, 0)) OVER (ORDER BY p.doc_id)
                AS BIGINT) AS cum_vocab
    FROM pd p LEFT JOIN nw w USING (doc_id)
    ORDER BY p.doc_id
"""


def ext_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Count-Min sketch (1024×4) over lineitem part keys,
    probed for every 100th part — true count vs sketch estimate side
    by side. The oracle recomputes the sketch cell-for-cell, so the
    hash check pins the collision behavior, not just the API."""
    from mitoscape_spark.operators.countmin import (
        countmin_build,
        countmin_estimate,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sketch = countmin_build(lineitem, "l_partkey", width=1024, depth=4)
    probes = part.where(F.col("p_partkey") % 100 == 0).select(
        F.col("p_partkey")
    )
    est = countmin_estimate(
        sketch, probes, "p_partkey", width=1024, depth=4
    )
    truth = (
        lineitem.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    )
    return (
        est.join(truth, "p_partkey", "left")
        .select(
            "p_partkey",
            F.coalesce("true_count", F.lit(0))
            .cast("long")
            .alias("true_count"),
            F.col("cms_est").cast("long").alias("cms_est"),
        )
        .orderBy("p_partkey")
    )


ORACLE["ext_countmin"] = """
    WITH keys AS (
        SELECT l_partkey AS key FROM lineitem
        WHERE l_partkey IS NOT NULL
    ), cells AS (
        SELECT d,
               CAST((('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                      || CAST(key AS VARCHAR)), 1, 13))::BIGINT
                     % 1024) AS INT) AS pos,
               COUNT(*) AS c
        FROM keys, (SELECT unnest(range(4)) AS d)
        GROUP BY 1, 2
    ), probes AS (
        SELECT p_partkey AS key FROM part WHERE p_partkey % 100 = 0
    ), pcell AS (
        SELECT p.key, d.d,
               CAST((('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':'
                      || CAST(p.key AS VARCHAR)), 1, 13))::BIGINT
                     % 1024) AS INT) AS pos
        FROM probes p, (SELECT unnest(range(4)) AS d) d
    ), est AS (
        SELECT pc.key, MIN(COALESCE(c.c, 0)) AS cms_est
        FROM pcell pc
        LEFT JOIN cells c ON pc.d = c.d AND pc.pos = c.pos
        GROUP BY pc.key
    ), truth AS (
        SELECT key, COUNT(*) AS true_count FROM keys GROUP BY key
    )
    SELECT e.key AS p_partkey,
           CAST(COALESCE(t.true_count, 0) AS BIGINT) AS true_count,
           CAST(e.cms_est AS BIGINT) AS cms_est
    FROM est e LEFT JOIN truth t ON e.key = t.key
    ORDER BY p_partkey
"""


def ext_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: end-to-end retrieval evaluation — exact top-10 cosine
    kNN runs over the embeddings scored against same-label qrels with
    P@10 / MRR / nDCG@10 macro-averages (trec_eval contract; queries
    with no relevant doc excluded)."""
    from mitoscape_spark.operators.retrieval_eval import (
        retrieval_metrics,
    )
    from mitoscape_spark.operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    runs = knn_join(emb, k=10).select(
        F.col("id").alias("qid"),
        F.col("nbr").alias("did"),
        F.col("cos").alias("score"),
    )
    e = emb.select("vec_id", "label")
    qrels = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.label") == F.col("b.label"))
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("qid"),
            F.col("b.vec_id").alias("did"),
        )
    )
    return retrieval_metrics(runs, qrels, k=10)


ORACLE["ext_retrieval_eval"] = """
    WITH pairs AS (
        SELECT a.vec_id AS id, b.vec_id AS nbr,
               ROUND(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 6) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT id AS qid, nbr AS did, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY id ORDER BY cos DESC, nbr
               ) AS rk
        FROM pairs
    ), top AS (
        SELECT qid, did, rk FROM ranked WHERE rk <= 10
    ), rel AS (
        SELECT a.vec_id AS qid, b.vec_id AS did
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
    ), flagged AS (
        SELECT t.qid, t.rk, (r.did IS NOT NULL) AS is_rel
        FROM top t
        LEFT JOIN rel r ON t.qid = r.qid AND t.did = r.did
    ), perq AS (
        SELECT qid,
               SUM(CASE WHEN is_rel THEN 1.0 ELSE 0.0 END) / 10.0
                   AS p,
               COALESCE(MAX(CASE WHEN is_rel THEN 1.0 / rk END), 0.0)
                   AS mrr,
               SUM(CASE WHEN is_rel THEN 1.0 / log2(rk + 1)
                        ELSE 0.0 END) AS dcg
        FROM flagged GROUP BY qid
    ), nrel AS (
        SELECT qid, COUNT(*) AS r FROM rel GROUP BY qid
    ), idcg AS (
        SELECT n.qid, SUM(1.0 / log2(i + 1)) AS idcg
        FROM nrel n, UNNEST(range(1, LEAST(n.r, 10) + 1)) AS t(i)
        GROUP BY n.qid
    ), scored AS (
        SELECT p.qid, p.p, p.mrr, p.dcg / i.idcg AS ndcg
        FROM perq p
        JOIN nrel USING (qid)
        JOIN idcg i USING (qid)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(AVG(p), 6) AS p_at_k,
           ROUND(AVG(mrr), 6) AS mrr,
           ROUND(AVG(ndcg), 6) AS ndcg
    FROM scored
"""


def ext_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: earth-mover (W1) distance between the click and
    purchase value distributions — the integral companion of
    ext_drift_ks, in the value's own units. CDFs and the next-value
    gap both ride the two-phase prefix primitive."""
    from mitoscape_spark.operators.drift import wasserstein_distance

    events = load_table(spark, sf_dir, "events")
    return wasserstein_distance(
        events, "value", "event_type", "click", "purchase"
    )


ORACLE["ext_drift_wasserstein"] = """
    WITH s AS (
        SELECT CAST(value AS DOUBLE) AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), g AS (
        SELECT v, SUM(a) AS ca, SUM(b) AS cb FROM s GROUP BY v
    ), c AS (
        SELECT v,
               SUM(ca) OVER (ORDER BY v) AS fa,
               SUM(cb) OVER (ORDER BY v) AS fb,
               LEAD(v) OVER (ORDER BY v) AS nv
        FROM g
    ), t AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM s)
    SELECT ROUND(SUM(ABS(fa * 1.0 / na - fb * 1.0 / nb)
                     * (nv - v)), 6) AS w1
    FROM c, t
    WHERE nv IS NOT NULL
"""


def ext_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: portable HyperLogLog distinct count of order keys in
    lineitem (p=8, ±6.5% expected) next to the exact answer. Register
    ranks are hex-string arithmetic — no floor(log2()) libm edge — so
    the DuckDB oracle recomputes every register bit-for-bit."""
    from mitoscape_spark.operators.hll import (
        hll_estimate,
        hll_registers,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    est = hll_estimate(hll_registers(lineitem, "l_orderkey", p=8), p=8)
    truth = lineitem.where(F.col("l_orderkey").isNotNull()).agg(
        F.countDistinct("l_orderkey").cast("long").alias("true_distinct")
    )
    return truth.crossJoin(F.broadcast(est)).select(
        "true_distinct",
        "hll_est",
        F.round(
            F.abs(F.col("hll_est") - F.col("true_distinct"))
            / F.col("true_distinct"),
            4,
        ).alias("rel_err"),
    )


ORACLE["ext_hll_distinct"] = """
    WITH h AS (
        SELECT md5(CAST(l_orderkey AS VARCHAR)) AS hx
        FROM lineitem WHERE l_orderkey IS NOT NULL
    ), pre AS (
        SELECT ('0x' || substr(hx, 1, 2))::BIGINT AS register,
               substr(hx, 3, 13) AS hex,
               ltrim(substr(hx, 3, 13), '0') AS stripped
        FROM h
    ), ranked AS (
        SELECT register,
               CASE WHEN stripped = '' THEN 53
                    ELSE (LENGTH(hex) - LENGTH(stripped)) * 4
                         + CASE WHEN SUBSTRING(stripped, 1, 1) = '1'
                                    THEN 3
                                WHEN SUBSTRING(stripped, 1, 1)
                                     IN ('2', '3') THEN 2
                                WHEN SUBSTRING(stripped, 1, 1)
                                     IN ('4', '5', '6', '7') THEN 1
                                ELSE 0 END
                         + 1 END AS rk
        FROM pre
    ), regs AS (
        SELECT register, MAX(rk) AS max_rank FROM ranked
        GROUP BY register
    ), agg AS (
        SELECT SUM(POWER(2.0, -max_rank)) AS s, COUNT(*) AS n
        FROM regs
    ), est AS (
        SELECT CASE
            WHEN (0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
                  / (s + (256 - n))) <= 640.0 AND (256 - n) > 0
            THEN 256.0 * LN(256.0 / (256 - n))
            ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
                 / (s + (256 - n)) END AS raw
        FROM agg
    ), t AS (
        SELECT COUNT(DISTINCT l_orderkey) AS true_distinct
        FROM lineitem WHERE l_orderkey IS NOT NULL
    )
    SELECT CAST(t.true_distinct AS BIGINT) AS true_distinct,
           ROUND(e.raw, 4) AS hll_est,
           ROUND(ABS(ROUND(e.raw, 4) - t.true_distinct)
                 / t.true_distinct, 4) AS rel_err
    FROM est e, t
"""


def ext_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: RFM customer segmentation — recency / frequency /
    monetary quintile scores per customer, rolled up to segment counts
    and average revenue. Each quintile is a two-phase ``global_ntile``
    (never a single-partition NTILE window); the even-spread bucket
    contract floor((rank-1)·5/n)+1 is restated verbatim in the
    oracle."""
    from mitoscape_spark.operators.ranking import global_ntile_multi

    orders = load_table(spark, sf_dir, "orders")
    # revenue in integer CENTS: sums/averages/rank order stay exact
    # integers, immune to cross-engine float-summation order and to
    # ROUND-at-a-half-boundary implementation differences
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("_last"),
        F.count(F.lit(1)).alias("_freq"),
        F.sum(cents).alias("_rev"),
    )
    # the stacked multi-dim ntile fires TWO internal actions total
    # (round 12 — one shared quantile probe, one shared bucket-count
    # pass); the chained per-dimension form fired two per dimension
    # and re-joined each scored branch on the key. The pin still
    # matters: the probe + count actions and the final window pass all
    # read the per-customer table
    cust = cust.transform(pin)
    # ascending score = better rank first: negate so "most recent /
    # most frequent / highest revenue" gets bucket 1
    dims = {
        "r_score": (-F.unix_timestamp("_last")).cast("double"),
        "f_score": (-F.col("_freq")).cast("double"),
        "m_score": (-F.col("_rev")).cast("double"),
    }
    scored = global_ntile_multi(cust, dims, "o_custkey", 5).select(
        "o_custkey", "_rev", "r_score", "f_score", "m_score"
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            # nearest-cent average as floor(s/n + 1/2) — exact-integer
            # inputs, one IEEE divide, floor: bit-identical cross-engine
            F.floor(
                F.sum("_rev") / F.count(F.lit(1)) + F.lit(0.5)
            )
            .cast("long")
            .alias("avg_revenue_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


ORACLE["ext_rfm_segments"] = """
    WITH cust AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_dt,
               COUNT(*) AS freq,
               SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev
        FROM orders GROUP BY o_custkey
    ), n AS (SELECT COUNT(*) AS n FROM cust),
    ranked AS (
        SELECT o_custkey, rev,
               ROW_NUMBER() OVER (ORDER BY last_dt DESC, o_custkey)
                   AS r_rnk,
               ROW_NUMBER() OVER (ORDER BY freq DESC, o_custkey)
                   AS f_rnk,
               ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey)
                   AS m_rnk
        FROM cust
    ), scored AS (
        SELECT o_custkey, rev,
               CAST(FLOOR((r_rnk - 1) * 5.0 / n.n) + 1 AS INT)
                   AS r_score,
               CAST(FLOOR((f_rnk - 1) * 5.0 / n.n) + 1 AS INT)
                   AS f_score,
               CAST(FLOOR((m_rnk - 1) * 5.0 / n.n) + 1 AS INT)
                   AS m_score
        FROM ranked, n
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(FLOOR(SUM(rev) * 1.0 / COUNT(*) + 0.5) AS BIGINT)
               AS avg_revenue_cents
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
"""


def ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: hard-negative mining for contrastive training — each
    query vector's top-3 most-similar OTHER-label vectors (the
    retrieval near-misses a random sampler never finds). Exact kNN
    runs re-ranked after the label anti-filter; per-query windows."""
    from mitoscape_spark.operators.similarity import knn_join
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    runs = knn_join(emb, k=20)  # depth covers the filtered-out pos
    lab = emb.select("vec_id", "label")
    flagged = (
        runs.join(
            lab.select(
                F.col("vec_id").alias("id"),
                F.col("label").alias("_ql"),
            ),
            "id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("nbr"),
                F.col("label").alias("_nl"),
            ),
            "nbr",
        )
        .where(F.col("_ql") != F.col("_nl"))
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos"), "nbr")
    return (
        flagged.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            F.col("id").alias("qid"),
            F.col("nbr").alias("neg_id"),
            "cos",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("qid", "rank")
    )


ORACLE["ext_hard_negatives"] = """
    WITH pairs AS (
        SELECT a.vec_id AS id, b.vec_id AS nbr,
               a.label AS ql, b.label AS nl,
               ROUND(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 6) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.vec_id <> b.vec_id
    ), knn AS (
        SELECT id, nbr, ql, nl, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY id ORDER BY cos DESC, nbr
               ) AS rk
        FROM pairs
    ), hard AS (
        SELECT id, nbr, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY id ORDER BY cos DESC, nbr
               ) AS rank
        FROM knn
        WHERE rk <= 20 AND ql <> nl
    )
    SELECT id AS qid, nbr AS neg_id, cos,
           CAST(rank AS INT) AS rank
    FROM hard
    WHERE rank <= 3
    ORDER BY qid, rank
"""


def ext_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: deterministic uniform negative sampling — 5 non-same-
    label corpus vectors per query, drawn via md5 index draws resolved
    through ONE equi-join (linear, never query × corpus)."""
    from mitoscape_spark.operators.sampling import sample_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label")
    positives = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.label") == F.col("b.label"))
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("qid"),
            F.col("b.vec_id").alias("vec_id"),
        )
    )
    return sample_negatives(
        positives,
        emb.select(F.col("vec_id")),
        qid_col="qid",
        did_col="vec_id",
        k=5,
        oversample=3,
        salt="neg",
    ).orderBy("qid", "draw_order")


ORACLE["ext_negative_sampling"] = """
    WITH corpus AS (
        SELECT vec_id AS did,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS idx
        FROM (SELECT DISTINCT vec_id FROM embeddings)
    ), n AS (SELECT COUNT(*) AS n FROM corpus),
    pos AS (
        SELECT a.vec_id AS qid, b.vec_id AS did
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
    ), qids AS (SELECT DISTINCT qid FROM pos),
    draws AS (
        SELECT q.qid, j,
               (('0x' || substr(md5('neg:' || CAST(q.qid AS VARCHAR)
                    || ':' || CAST(j AS VARCHAR)), 1, 13))::BIGINT
                % n.n) + 1 AS idx
        FROM qids q, (SELECT unnest(range(15)) AS j), n
    ), cand AS (
        SELECT d.qid, c.did, d.j
        FROM draws d
        JOIN corpus c USING (idx)
        WHERE c.did <> d.qid
          AND NOT EXISTS (
              SELECT 1 FROM pos p
              WHERE p.qid = d.qid AND p.did = c.did
          )
    ), dedup AS (
        SELECT qid, did, j FROM cand
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY qid, did ORDER BY j
        ) = 1
    )
    SELECT qid, did AS neg_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY j
           ) AS INT) AS draw_order
    FROM dedup
    QUALIFY draw_order <= 5
    ORDER BY qid, draw_order
"""


def ext_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: streaming Count-Min maintenance END-TO-END — lineitem
    part keys stream in as two micro-batches, the per-batch sketches
    sum-merge exactly-once into one snapshot table, and the FINAL
    state must equal DuckDB's one-shot sketch over the full table
    cell-for-cell (sum-merge is the sketch where a replayed batch
    would silently double-count — this check pins merge-across-batches
    == build-once AND the ledger protocol in one verdict)."""
    from mitoscape_spark.streaming.sinks import stream_countmin

    rows = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return _run_two_batch_stream_service(
        spark,
        rows,
        "l_orderkey",
        lambda stream, root: stream_countmin(
            stream, f"{root}/pairs", f"{root}/ckpt",
            key_col="l_partkey",
        ),
        lambda state: state.orderBy("d", "pos"),
        "d int, pos int, c long",
    )


ORACLE["ext_stream_countmin"] = """
    WITH keys AS (
        SELECT l_partkey AS key FROM lineitem
        WHERE l_partkey IS NOT NULL
    )
    SELECT d,
           CAST((('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                  || CAST(key AS VARCHAR)), 1, 13))::BIGINT
                 % 1024) AS INT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM keys, (SELECT unnest(range(4)) AS d)
    GROUP BY 1, 2
    ORDER BY d, pos
"""


def ext_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: streaming HyperLogLog maintenance END-TO-END — order
    keys stream in as two micro-batches, registers max-merge into one
    snapshot table, and the FINAL register state must equal DuckDB's
    one-shot register computation bit-for-bit (the cardinality twin of
    ext_stream_countmin)."""
    from mitoscape_spark.streaming.sinks import stream_hll

    rows = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("split_key"),
        F.col("o_custkey"),
    )
    return _run_two_batch_stream_service(
        spark,
        rows,
        "split_key",
        lambda stream, root: stream_hll(
            stream, f"{root}/pairs", f"{root}/ckpt",
            key_col="o_custkey", p=8,
        ),
        lambda state: state.orderBy("register"),
        "register int, max_rank int",
    )


ORACLE["ext_stream_hll"] = """
    WITH h AS (
        SELECT md5(CAST(o_custkey AS VARCHAR)) AS hx
        FROM orders WHERE o_custkey IS NOT NULL
    ), pre AS (
        SELECT ('0x' || substr(hx, 1, 2))::BIGINT AS register,
               substr(hx, 3, 13) AS hex,
               ltrim(substr(hx, 3, 13), '0') AS stripped
        FROM h
    ), ranked AS (
        SELECT register,
               CASE WHEN stripped = '' THEN 53
                    ELSE (LENGTH(hex) - LENGTH(stripped)) * 4
                         + CASE WHEN SUBSTRING(stripped, 1, 1) = '1'
                                    THEN 3
                                WHEN SUBSTRING(stripped, 1, 1)
                                     IN ('2', '3') THEN 2
                                WHEN SUBSTRING(stripped, 1, 1)
                                     IN ('4', '5', '6', '7') THEN 1
                                ELSE 0 END
                         + 1 END AS rk
        FROM pre
    )
    SELECT CAST(register AS INT) AS register,
           CAST(MAX(rk) AS INT) AS max_rank
    FROM ranked
    GROUP BY register
    ORDER BY register
"""


def ext_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: per-source winsorized document-length means — clamp
    n_chars into each source's [p05, p95] band (edges rounded before
    clamping so both engines clamp identical thresholds)."""
    from mitoscape_spark.operators.profile import winsorized_stats

    docs = load_table(spark, sf_dir, "documents")
    return winsorized_stats(docs, "source", "n_chars").orderBy("source")


ORACLE["ext_winsorized_stats"] = """
    WITH clean AS (
        SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
        FROM documents WHERE n_chars IS NOT NULL
    ), bands AS (
        SELECT g,
               ROUND(quantile_cont(v, 0.05), 4) AS lo,
               ROUND(quantile_cont(v, 0.95), 4) AS hi
        FROM clean GROUP BY g
    ), clamped AS (
        SELECT c.g, c.v, b.lo, b.hi,
               LEAST(GREATEST(c.v, b.lo), b.hi) AS w
        FROM clean c JOIN bands b USING (g)
    )
    SELECT g AS source,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(lo) AS p_lo,
           MIN(hi) AS p_hi,
           ROUND(AVG(v), 4) AS mean_raw,
           ROUND(AVG(w), 4) AS mean_winsorized
    FROM clamped
    GROUP BY g
    ORDER BY source
"""


def ext_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: MinHash estimator audit — for every LSH candidate
    pair, the signature-agreement estimate (matches/8) NEXT TO the
    exact shingle Jaccard, with the absolute error. The measurement
    that justifies a chosen (num_hashes, band) config on real data;
    every piece (signatures, banding, exact Jaccard) recomputed
    verbatim by the oracle."""
    from mitoscape_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # §20 pin: sigs feeds the banding pass AND both estimator join
    # sides — the shingle explode + 8×md5 signature agg runs once
    sigs = minhash_signatures(docs).transform(pin)
    cands = minhash_candidate_pairs(sigs)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        "seed",
        F.col("minhash").alias("_ma"),
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        "seed",
        F.col("minhash").alias("_mb"),
    )
    est = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.round(
                F.avg((F.col("_ma") == F.col("_mb")).cast("double")), 4
            ).alias("minhash_est")
        )
    )
    exact = ngram_jaccard_pairs(docs, threshold=0.0).select(
        "doc_a", "doc_b", "jaccard"
    )
    return (
        est.join(exact, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "minhash_est",
            "jaccard",
            F.round(F.abs(F.col("minhash_est") - F.col("jaccard")), 4)
            .alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


ORACLE["ext_minhash_accuracy"] = f"""
    WITH {_TOKS}, {_SHINGLES3},
    sig AS (
        SELECT doc_id, seed,
               MIN(md5(concat(CAST(seed AS VARCHAR), '|', shingle)))
                   AS minhash
        FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               string_agg(minhash, ',' ORDER BY seed) AS band_key
        FROM sig GROUP BY doc_id, seed // 2
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.doc_a, c.doc_b,
               ROUND(AVG(CASE WHEN sa.minhash = sb.minhash
                              THEN 1.0 ELSE 0.0 END), 4) AS minhash_est
        FROM cands c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
        GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
        SELECT i.doc_a, i.doc_b,
               ROUND(i.n_common * 1.0
                     / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.minhash_est, x.jaccard,
           ROUND(ABS(e.minhash_est - x.jaccard), 4) AS abs_err
    FROM est e JOIN exact x USING (doc_a, doc_b)
    ORDER BY doc_a, doc_b
"""


def ext_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: approximate COUNT(DISTINCT customer) per order
    priority via per-group portable HLL sketches, next to the exact
    answer — the distinct-per-group workhorse in <= 256 rows per group
    instead of a distinct-key shuffle."""
    from mitoscape_spark.operators.hll import (
        hll_estimate_grouped,
        hll_registers_grouped,
    )

    orders = load_table(spark, sf_dir, "orders")
    est = hll_estimate_grouped(
        hll_registers_grouped(
            orders, "o_orderpriority", "o_custkey", p=8
        ),
        p=8,
    )
    truth = orders.groupBy(
        F.col("o_orderpriority").alias("grp")
    ).agg(
        F.countDistinct("o_custkey").cast("long").alias("true_distinct")
    )
    return (
        est.join(truth, "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            "true_distinct",
            "hll_est",
        )
        .orderBy("o_orderpriority")
    )


ORACLE["ext_hll_grouped"] = """
    WITH h AS (
        SELECT o_orderpriority AS grp,
               md5(CAST(o_custkey AS VARCHAR)) AS hx
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
    ), pre AS (
        SELECT grp,
               ('0x' || substr(hx, 1, 2))::BIGINT AS register,
               substr(hx, 3, 13) AS hex,
               ltrim(substr(hx, 3, 13), '0') AS stripped
        FROM h
    ), ranked AS (
        SELECT grp, register,
               CASE WHEN stripped = '' THEN 53
                    ELSE (LENGTH(hex) - LENGTH(stripped)) * 4
                         + CASE WHEN SUBSTRING(stripped, 1, 1) = '1'
                                    THEN 3
                                WHEN SUBSTRING(stripped, 1, 1)
                                     IN ('2', '3') THEN 2
                                WHEN SUBSTRING(stripped, 1, 1)
                                     IN ('4', '5', '6', '7') THEN 1
                                ELSE 0 END
                         + 1 END AS rk
        FROM pre
    ), regs AS (
        SELECT grp, register, MAX(rk) AS max_rank
        FROM ranked GROUP BY grp, register
    ), agg AS (
        SELECT grp, SUM(POWER(2.0, -max_rank)) AS s, COUNT(*) AS n
        FROM regs GROUP BY grp
    ), est AS (
        SELECT grp, CASE
            WHEN (0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
                  / (s + (256 - n))) <= 640.0 AND (256 - n) > 0
            THEN 256.0 * LN(256.0 / (256 - n))
            ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
                 / (s + (256 - n)) END AS raw
        FROM agg
    ), t AS (
        SELECT o_orderpriority AS grp,
               COUNT(DISTINCT o_custkey) AS true_distinct
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY o_orderpriority
    )
    SELECT t.grp AS o_orderpriority,
           CAST(t.true_distinct AS BIGINT) AS true_distinct,
           ROUND(e.raw, 4) AS hll_est
    FROM est e JOIN t USING (grp)
    ORDER BY o_orderpriority
"""


def ext_join_size_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: self-join cardinality estimation from two KB-scale
    Count-Min sketches — the AMS inner-product estimate of
    |lineitem ⋈ lineitem| on l_partkey (= Σ f(v)², the blowup number
    for the co-purchase self-join) next to the exact answer, WITHOUT
    executing the join."""
    from mitoscape_spark.operators.countmin import (
        countmin_build,
        countmin_inner_product,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    sk = countmin_build(lineitem, "l_partkey", width=1024, depth=4)
    sk = sk.transform(pin)  # both estimator sides read it
    est = countmin_inner_product(sk, sk)
    truth = (
        lineitem.where(F.col("l_partkey").isNotNull())
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.sum(F.col("_c") * F.col("_c"))
            .cast("long")
            .alias("true_join_size")
        )
    )
    return truth.crossJoin(F.broadcast(est)).select(
        "true_join_size", "cms_join_size"
    )


ORACLE["ext_join_size_est"] = """
    WITH keys AS (
        SELECT l_partkey AS key FROM lineitem
        WHERE l_partkey IS NOT NULL
    ), cells AS (
        SELECT d,
               (('0x' || substr(md5(CAST(d AS VARCHAR) || ':'
                 || CAST(key AS VARCHAR)), 1, 13))::BIGINT
                % 1024) AS pos,
               COUNT(*) AS c
        FROM keys, (SELECT unnest(range(4)) AS d)
        GROUP BY 1, 2
    ), dots AS (
        SELECT d, SUM(c * c) AS dot FROM cells GROUP BY d
    ), t AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS true_join_size
        FROM (SELECT COUNT(*) AS c FROM keys GROUP BY key)
    )
    SELECT t.true_join_size,
           CAST((SELECT MIN(dot) FROM dots) AS BIGINT)
               AS cms_join_size
    FROM t
"""


def ext_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: per-source lexical diversity — token Shannon entropy,
    type count, type-token ratio."""
    from mitoscape_spark.operators.textstats import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    return token_entropy(docs).orderBy("source")


ORACLE["ext_token_entropy"] = """
    WITH toks AS (
        SELECT source AS grp,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), counts AS (
        SELECT grp, tok, COUNT(*) AS c FROM toks GROUP BY grp, tok
    ), tot AS (
        SELECT grp, SUM(c) AS n FROM counts GROUP BY grp
    )
    SELECT c.grp AS source,
           CAST(t.n AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(SUM(-(c.c * 1.0 / t.n) * LN(c.c * 1.0 / t.n)), 6)
               AS entropy,
           ROUND(COUNT(*) * 1.0 / t.n, 6) AS type_token_ratio
    FROM counts c JOIN tot t USING (grp)
    GROUP BY c.grp, t.n
    ORDER BY source
"""


def ext_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Jensen-Shannon divergence of each source's token
    distribution from the whole corpus — smoothing-free domain
    similarity (absent tokens contribute closed-form half-ln2 mass)."""
    from mitoscape_spark.operators.textstats import (
        js_divergence_by_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    return js_divergence_by_group(docs).orderBy("source")


ORACLE["ext_js_divergence"] = """
    WITH toks AS (
        SELECT source AS grp,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), cg AS (
        SELECT grp, tok, COUNT(*) AS c FROM toks GROUP BY grp, tok
    ), ct AS (
        SELECT tok, SUM(c) AS ctot FROM cg GROUP BY tok
    ), ng AS (
        SELECT grp, SUM(c) AS n FROM cg GROUP BY grp
    ), n AS (SELECT SUM(c) AS total FROM cg),
    terms AS (
        SELECT g.grp,
               (g.c * 1.0 / ng.n) AS p,
               (t.ctot * 1.0 / n.total) AS q
        FROM cg g
        JOIN ct t USING (tok)
        JOIN ng USING (grp), n
    )
    SELECT grp AS source,
           ROUND(SUM(0.5 * p * LN(p / ((p + q) / 2))
                     + 0.5 * q * LN(q / ((p + q) / 2)))
                 + 0.5 * LN(2) * (1 - SUM(q)), 6) AS js_divergence
    FROM terms
    GROUP BY grp
    ORDER BY source
"""


def ext_coverage_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: interval coverage depth — concurrent open orders per
    day (each order stays open o_orderkey % 30 days). The genomics
    per-position depth sweep (the reference's NUMT interval shape)
    as explode → per-position agg → two-phase running sum."""
    from mitoscape_spark.operators.intervals import coverage_depth

    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("start_day"),
        (
            F.datediff(
                F.col("o_orderdate"), F.lit("1990-01-01").cast("date")
            ).cast("long")
            + F.col("o_orderkey") % 30
        ).alias("end_day"),
    )
    return coverage_depth(iv, "start_day", "end_day").orderBy("pos")


ORACLE["ext_coverage_depth"] = """
    WITH iv AS (
        SELECT CAST(DATEDIFF('day', DATE '1990-01-01',
                             CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS start_day,
               CAST(DATEDIFF('day', DATE '1990-01-01',
                             CAST(o_orderdate AS DATE)) AS BIGINT)
                   + o_orderkey % 30 AS end_day
        FROM orders
        WHERE o_orderdate IS NOT NULL
    ), ev AS (
        SELECT start_day AS pos, 1 AS d FROM iv
        WHERE end_day >= start_day
        UNION ALL
        SELECT end_day + 1 AS pos, -1 AS d FROM iv
        WHERE end_day >= start_day
    ), per_pos AS (
        SELECT pos, SUM(d) AS d FROM ev GROUP BY pos
    )
    SELECT pos,
           CAST(SUM(d) OVER (ORDER BY pos) AS BIGINT) AS depth
    FROM per_pos
    ORDER BY pos
"""


def ext_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Gini coefficient of customer revenue — the inequality
    scalar behind ext_revenue_concentration's Lorenz deciles:
    G = (2·Σ i·x_(i)) / (n·Σx) − (n+1)/n over ascending-sorted revenue.
    Ranks via the two-phase global_rank (no single-partition window);
    revenue flows as integer cents so every product and sum is exact
    and the one final division is bit-identical cross-engine."""
    from mitoscape_spark.operators.ranking import global_rank

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    cust = orders.groupBy("o_custkey").agg(F.sum(cents).alias("_rev"))
    ranked = global_rank(
        cust.withColumn("_s", F.col("_rev").cast("double")),
        score_col="_s",
        id_col="o_custkey",
        out_col="_i",
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(
            (
                F.lit(2.0) * F.sum(F.col("_i") * F.col("_rev"))
                / (F.count(F.lit(1)) * F.sum("_rev"))
            )
            - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


ORACLE["ext_gini"] = """
    WITH cust AS (
        SELECT o_custkey,
               SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT rev,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(rev AS DOUBLE), o_custkey
               ) AS i
        FROM cust
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(2.0 * SUM(i * rev) / (COUNT(*) * SUM(rev))
                 - (COUNT(*) + 1) * 1.0 / COUNT(*), 6) AS gini
    FROM ranked
"""


def ext_decay_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: exponentially time-decayed revenue per customer —
    Σ value·exp(−ln2/30 · days_before_anchor), the feature-store
    recency-weighted aggregate (30-day half-life; anchor = newest
    order date, a 1-row broadcast stats join). One scan, one group
    agg; the decay is a scalar projection."""
    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("_anchor"))
    lam = F.log(F.lit(2.0)) / F.lit(30.0)
    decayed = (
        orders.crossJoin(F.broadcast(anchor))  # 1-row stats join
        .select(
            "o_custkey",
            (
                F.col("o_totalprice")
                * F.exp(
                    -lam
                    * F.datediff(F.col("_anchor"), F.col("o_orderdate"))
                )
            ).alias("_dv"),
        )
    )
    return (
        decayed.groupBy("o_custkey")
        .agg(F.round(F.sum("_dv"), 4).alias("decayed_revenue"))
        .orderBy("o_custkey")
    )


ORACLE["ext_decay_agg"] = """
    WITH anchor AS (
        SELECT MAX(o_orderdate) AS a FROM orders
    )
    SELECT o_custkey,
           ROUND(SUM(o_totalprice
                     * EXP(-(LN(2.0) / 30.0)
                           * DATEDIFF('day',
                                      CAST(o_orderdate AS DATE),
                                      CAST(anchor.a AS DATE)))), 4)
               AS decayed_revenue
    FROM orders, anchor
    GROUP BY o_custkey
    ORDER BY o_custkey
"""


def ext_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: per-user inter-event burstiness B = (σ−μ)/(σ+μ) over
    inter-arrival gaps (Goh–Barabási): B→−1 periodic, ≈0 Poisson, →1
    bursty. One per-user lag window + one agg; users with < 3 events
    (fewer than 2 gaps) are excluded — σ of one gap is 0 by fiat and
    would fake perfect periodicity."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", "ts", "event_id")
        .withColumn(
            "_gap",
            # ts is TIMESTAMP_NTZ; the pinned-UTC ltz hop + cast to
            # double is micros/1e6 — the exact same IEEE op as
            # DuckDB's epoch(), so gaps match bit-for-bit (integer
            # unix_timestamp would TRUNCATE where DuckDB CAST rounds)
            F.col("ts").cast("timestamp").cast("double")
            - F.lag(F.col("ts").cast("timestamp").cast("double")).over(
                w
            ),
        )
        .where(F.col("_gap").isNotNull())
    )
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.avg("_gap").alias("_mu"),
        F.stddev_pop("_gap").alias("_sigma"),
    )
    return (
        stats.where(F.col("n_gaps") >= 2)
        .select(
            "user_id",
            "n_gaps",
            F.round(
                (F.col("_sigma") - F.col("_mu"))
                / (F.col("_sigma") + F.col("_mu")),
                6,
            ).alias("burstiness"),
        )
        .orderBy("user_id")
    )


ORACLE["ext_burstiness"] = """
    WITH gaps AS (
        SELECT user_id,
               epoch(CAST(ts AS TIMESTAMP))
               - epoch(CAST(LAG(ts) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                 ) AS TIMESTAMP)) AS gap
        FROM events
    ), g AS (SELECT user_id, gap FROM gaps WHERE gap IS NOT NULL),
    stats AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               AVG(gap) AS mu,
               STDDEV_POP(gap) AS sigma
        FROM g GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           ROUND((sigma - mu) / (sigma + mu), 6) AS burstiness
    FROM stats
    WHERE n_gaps >= 2
    ORDER BY user_id
"""


def ext_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Adamic-Adar link prediction over the co-purchase
    graph — which unconnected part pairs share the most (rarity-
    weighted) neighbors. Wedge join + degree broadcast + anti-join of
    existing edges; candidates floored at 2 shared neighbors."""
    from mitoscape_spark.operators.graph import adamic_adar_scores

    lineitem = load_table(spark, sf_dir, "lineitem")
    # §20 pin: both sides of the co-purchase self-join read op —
    # without it the lineitem scan + distinct runs twice in one plan
    op = (
        lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .transform(pin)
    )
    edges = (
        op.alias("a")
        .join(op.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("_s"))
        .where(F.col("_s") >= 2)
        .select("u", "v")
    )
    return adamic_adar_scores(edges, min_common=2).orderBy("u", "v")


ORACLE["ext_link_prediction"] = """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), sym AS (
        SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
        SELECT u AS z, COUNT(*) AS d FROM sym GROUP BY u
    ), adj AS (
        SELECT u AS z, v AS n FROM sym
    ), wedges AS (
        SELECT a.z, a.n AS u, b.n AS v
        FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
    ), scored AS (
        SELECT w.u, w.v,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               ROUND(SUM(1.0 / LN(d.d)), 6) AS aa_score
        FROM wedges w JOIN deg d ON w.z = d.z
        GROUP BY w.u, w.v
        HAVING COUNT(*) >= 2
    )
    SELECT s.u, s.v, s.n_common, s.aa_score
    FROM scored s
    WHERE NOT EXISTS (
        SELECT 1 FROM e WHERE e.u = s.u AND e.v = s.v
    )
    ORDER BY s.u, s.v
"""


def ext_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Welch's unequal-variance t-test — are click and
    purchase values drawn from the same mean? One conditional
    aggregation tree (the ext_ab_test pattern for CONTINUOUS
    outcomes); t statistic and Welch-Satterthwaite df rounded to 4."""
    events = load_table(spark, sf_dir, "events")
    s = events.where(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    ).select(
        (F.col("event_type") == "click").alias("_a"), "value"
    )
    agg = s.agg(
        F.sum(F.col("_a").cast("long")).alias("n1"),
        F.sum((~F.col("_a")).cast("long")).alias("n2"),
        F.avg(F.when(F.col("_a"), F.col("value"))).alias("m1"),
        F.avg(F.when(~F.col("_a"), F.col("value"))).alias("m2"),
        F.var_samp(F.when(F.col("_a"), F.col("value"))).alias("v1"),
        F.var_samp(F.when(~F.col("_a"), F.col("value"))).alias("v2"),
    )
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)
    df = ((se1 + se2) * (se1 + se2)) / (
        se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_purchase"),
        F.round(F.col("m1") - F.col("m2"), 4).alias("mean_diff"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("welch_df"),
    )


ORACLE["ext_welch_ttest"] = """
    WITH s AS (
        SELECT (event_type = 'click') AS a, value
        FROM events
        WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL
    ), agg AS (
        SELECT SUM(CASE WHEN a THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN a THEN 0 ELSE 1 END) AS n2,
               AVG(CASE WHEN a THEN value END) AS m1,
               AVG(CASE WHEN NOT a THEN value END) AS m2,
               VAR_SAMP(CASE WHEN a THEN value END) AS v1,
               VAR_SAMP(CASE WHEN NOT a THEN value END) AS v2
        FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n_click,
           CAST(n2 AS BIGINT) AS n_purchase,
           ROUND(m1 - m2, 4) AS mean_diff,
           ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 4) AS t_stat,
           ROUND(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 2)
               AS welch_df
    FROM agg
"""


def ext_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: multivariate anomaly gate — diagonal-covariance
    Mahalanobis distance over (quantity, price, discount): d² = Σ z².
    One stats agg broadcast back, one scalar projection, one count —
    the 3-feature generalization of the z-score fence."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    stats = li.agg(
        *[F.avg(c).alias(f"_m_{c}") for c in cols],
        *[F.stddev_pop(c).alias(f"_s_{c}") for c in cols],
    )
    d2 = None
    for c in cols:
        z = (F.col(c) - F.col(f"_m_{c}")) / F.col(f"_s_{c}")
        d2 = z * z if d2 is None else d2 + z * z
    flagged = li.crossJoin(F.broadcast(stats)).select(  # 1-row stats
        d2.alias("_d2")
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((F.col("_d2") > 9.0).cast("long"))
        .cast("long")
        .alias("n_anomalies"),
        F.round(F.max("_d2"), 2).alias("max_d2"),
    )


ORACLE["ext_mahalanobis"] = """
    WITH stats AS (
        SELECT AVG(l_quantity) AS mq, STDDEV_POP(l_quantity) AS sq,
               AVG(l_extendedprice) AS mp,
               STDDEV_POP(l_extendedprice) AS sp,
               AVG(l_discount) AS md, STDDEV_POP(l_discount) AS sd
        FROM lineitem
    ), d AS (
        SELECT ((l_quantity - mq) / sq) * ((l_quantity - mq) / sq)
               + ((l_extendedprice - mp) / sp)
                 * ((l_extendedprice - mp) / sp)
               + ((l_discount - md) / sd) * ((l_discount - md) / sd)
                   AS d2
        FROM lineitem, stats
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN d2 > 9.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anomalies,
           ROUND(MAX(d2), 2) AS max_d2
    FROM d
"""


def ext_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: cohort lifetime-value curves — customers cohorted by
    first-order month, cumulative revenue per cohort at each months-
    since-first offset. The window runs PARTITIONED BY cohort (bounded
    partitions — never a global sort); revenue as integer cents for
    cross-engine exactness."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    # first-order month attaches via a window MIN over the customer
    # partition — ONE exchange of orders instead of the groupBy-min +
    # join-back shape's two (the join re-shuffled the full fact table
    # a second time; round-7 plan cleanup). Partitions stay bounded
    # (per-customer), no global sort.
    om = F.trunc("o_orderdate", "month")
    cohort = F.min(om).over(Window.partitionBy("o_custkey"))
    j = orders.select(
        cohort.alias("cohort_month"),
        F.months_between(om, cohort).cast("int").alias("month_offset"),
        cents.alias("_rev"),
    )
    per_cell = j.groupBy("cohort_month", "month_offset").agg(
        F.sum("_rev").alias("_m_rev"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_cell.withColumn(
            "cum_revenue_cents", F.sum("_m_rev").over(w).cast("long")
        )
        .select(
            F.col("cohort_month").cast("date").alias("cohort_month"),
            "month_offset",
            F.col("_m_rev").cast("long").alias("revenue_cents"),
            "cum_revenue_cents",
        )
        .orderBy("cohort_month", "month_offset")
    )


ORACLE["ext_cohort_ltv"] = """
    WITH o AS (
        SELECT o_custkey,
               DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS om,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS rev
        FROM orders
    ), first AS (
        SELECT o_custkey, MIN(om) AS cohort FROM o GROUP BY o_custkey
    ), j AS (
        SELECT f.cohort AS cohort_month,
               CAST(DATEDIFF('month', f.cohort, o.om) AS INT)
                   AS month_offset,
               o.rev
        FROM o JOIN first f USING (o_custkey)
    ), per_cell AS (
        SELECT cohort_month, month_offset, SUM(rev) AS m_rev
        FROM j GROUP BY cohort_month, month_offset
    )
    SELECT CAST(cohort_month AS DATE) AS cohort_month,
           month_offset,
           CAST(m_rev AS BIGINT) AS revenue_cents,
           CAST(SUM(m_rev) OVER (
               PARTITION BY cohort_month ORDER BY month_offset
           ) AS BIGINT) AS cum_revenue_cents
    FROM per_cell
    ORDER BY cohort_month, month_offset
"""


def ext_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: estimated distinct users TO DATE per day — the
    dashboard curve — by prefix-merging per-day HLL registers instead
    of rescanning history daily: registers grid (days × 256, bounded)
    → running register max (window PARTITIONED by register — 256
    bounded partitions, never global) → per-day estimate. The payoff
    of a mergeable sketch: each day costs one day of data."""
    from mitoscape_spark.operators.hll import hll_registers_grouped
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    # §20 pin: the register table feeds the day grid, the register
    # grid, and the as-of join — without it the events scan + HLL
    # register agg runs three times
    daily = (
        hll_registers_grouped(
            events.select(
                F.to_date("ts").alias("day"), F.col("user_id")
            ),
            "day",
            "user_id",
            p=8,
        )
        .select(F.col("grp").alias("day"), "register", "max_rank")
        .transform(pin)
    )
    days = daily.select("day").distinct()
    regs = daily.select("register").distinct()
    grid = days.crossJoin(F.broadcast(regs))  # bounded 256-row side
    w = (
        Window.partitionBy("register")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        grid.join(daily, ["day", "register"], "left")
        .withColumn("_cum", F.max("max_rank").over(w))
        .where(F.col("_cum").isNotNull())
    )
    # per-day estimate over the as-of register states (reuse the
    # grouped estimator with day as the group)
    from mitoscape_spark.operators.hll import hll_estimate_grouped

    est = hll_estimate_grouped(
        cum.select(
            F.col("day").alias("grp"),
            "register",
            F.col("_cum").alias("max_rank"),
        ),
        p=8,
    )
    return est.select(F.col("grp").alias("day"), "hll_est").orderBy(
        "day"
    )


ORACLE["ext_cumulative_users"] = """
    WITH h AS (
        SELECT CAST(ts AS DATE) AS day,
               md5(CAST(user_id AS VARCHAR)) AS hx
        FROM events WHERE user_id IS NOT NULL
    ), pre AS (
        SELECT day,
               ('0x' || substr(hx, 1, 2))::BIGINT AS register,
               substr(hx, 3, 13) AS hex,
               ltrim(substr(hx, 3, 13), '0') AS stripped
        FROM h
    ), ranked AS (
        SELECT day, register,
               CASE WHEN stripped = '' THEN 53
                    ELSE (LENGTH(hex) - LENGTH(stripped)) * 4
                         + CASE WHEN SUBSTRING(stripped, 1, 1) = '1'
                                    THEN 3
                                WHEN SUBSTRING(stripped, 1, 1)
                                     IN ('2', '3') THEN 2
                                WHEN SUBSTRING(stripped, 1, 1)
                                     IN ('4', '5', '6', '7') THEN 1
                                ELSE 0 END
                         + 1 END AS rk
        FROM pre
    ), daily AS (
        SELECT day, register, MAX(rk) AS max_rank
        FROM ranked GROUP BY day, register
    ), grid AS (
        SELECT d.day, r.register
        FROM (SELECT DISTINCT day FROM daily) d,
             (SELECT DISTINCT register FROM daily) r
    ), cum AS (
        SELECT g.day, g.register,
               MAX(dl.max_rank) OVER (
                   PARTITION BY g.register ORDER BY g.day
               ) AS c
        FROM grid g
        LEFT JOIN daily dl
          ON g.day = dl.day AND g.register = dl.register
    ), live AS (
        SELECT day, register, c FROM cum WHERE c IS NOT NULL
    ), agg AS (
        SELECT day, SUM(POWER(2.0, -c)) AS s, COUNT(*) AS n
        FROM live GROUP BY day
    )
    SELECT day,
           ROUND(CASE
               WHEN (0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
                     / (s + (256 - n))) <= 640.0 AND (256 - n) > 0
               THEN 256.0 * LN(256.0 / (256 - n))
               ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
                    / (s + (256 - n)) END, 4) AS hll_est
    FROM agg
    ORDER BY day
"""


def ext_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: CUSUM change-point detection per event type — the
    day where the cumulative deviation of daily means from the series
    mean peaks (the classic level-shift locator, the monitoring
    companion to drift: PSI/KS say THAT it moved, CUSUM says WHEN).
    Windows partition by event type over days — bounded partitions.
    Ranking uses |CUSUM| ROUNDED to 6 dp then day, so float
    summation-order jitter cannot flip the argmax across engines."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.where(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(F.avg("value").alias("_m"))
    )
    w_all = Window.partitionBy("event_type")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = (
        daily.withColumn("_mu", F.avg("_m").over(w_all))
        .withColumn(
            "_cusum", F.sum(F.col("_m") - F.col("_mu")).over(w_cum)
        )
        .withColumn("_a", F.round(F.abs("_cusum"), 6))
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("_a").desc(), "day"
    )
    return (
        cusum.withColumn("_r", F.row_number().over(w_rank))
        .where(F.col("_r") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("_a").alias("max_abs_cusum"),
        )
        .orderBy("event_type")
    )


ORACLE["ext_cusum"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               AVG(value) AS m
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE)
    ), c AS (
        SELECT event_type, day,
               ROUND(ABS(SUM(m - mu) OVER (
                   PARTITION BY event_type ORDER BY day
               )), 6) AS a
        FROM (
            SELECT event_type, day, m,
                   AVG(m) OVER (PARTITION BY event_type) AS mu
            FROM daily
        )
    )
    SELECT event_type, day AS change_day, a AS max_abs_cusum
    FROM c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY a DESC, day
    ) = 1
    ORDER BY event_type
"""


def ext_weighted_sample_wr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: deterministic weighted sampling WITH replacement — 20
    multinomial draws over documents weighted by length, by
    cumulative-weight inversion (two-phase prefix sum + broadcast
    targets; integer weights keep every bound exact cross-engine)."""
    from mitoscape_spark.operators.sampling import (
        weighted_sample_with_replacement,
    )

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_with_replacement(
        docs, "n_chars", k=20, id_col="doc_id", salt="wr"
    ).orderBy("draw_order")


ORACLE["ext_weighted_sample_wr"] = """
    WITH rows_ AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS w
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
    ), cum AS (
        SELECT doc_id, w,
               COALESCE(SUM(w) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0.0) AS lo
        FROM rows_
    ), t AS (SELECT SUM(w) AS total FROM rows_),
    draws AS (
        SELECT CAST(j AS INT) AS draw_order,
               (1.0 - (('0x' || substr(md5('wr:' || CAST(j AS VARCHAR)),
                        1, 13))::BIGINT + 1.0) / 4503599627370497.0)
               * t.total AS tgt
        FROM (SELECT unnest(range(20)) AS j), t
    )
    SELECT d.draw_order, c.doc_id, c.w AS n_chars
    FROM draws d JOIN cum c
      ON d.tgt >= c.lo AND d.tgt < c.lo + c.w
    ORDER BY d.draw_order
"""


def ext_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Kaplan-Meier time-to-repurchase — days from first to
    second order, right-censored at the dataset horizon for one-order
    customers. The survival curve naive averages get wrong under
    censoring; at-risk and log-survival via the two-phase prefix."""
    from mitoscape_spark.operators.timeseries import kaplan_meier
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    ranked = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("_d"),
        F.row_number().over(w).alias("_r"),
    ).where(F.col("_r") <= 2)
    horizon = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("_h")
    )
    per_cust = (
        ranked.groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("_r") == 1, F.col("_d"))).alias("_t0"),
            F.min(F.when(F.col("_r") == 2, F.col("_d"))).alias("_t1"),
        )
        .crossJoin(F.broadcast(horizon))  # 1-row stats join
        .select(
            F.when(
                F.col("_t1").isNotNull(),
                F.datediff("_t1", "_t0"),
            )
            .otherwise(F.datediff("_h", "_t0"))
            .cast("long")
            .alias("duration"),
            F.col("_t1").isNotNull().cast("int").alias("event"),
        )
    )
    return kaplan_meier(per_cust).orderBy("duration")


ORACLE["ext_kaplan_meier"] = """
    WITH ranked AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               ) AS r
        FROM orders
    ), h AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS hz FROM orders
    ), per_cust AS (
        SELECT CASE WHEN t1 IS NOT NULL
                    THEN DATEDIFF('day', t0, t1)
                    ELSE DATEDIFF('day', t0, h.hz) END AS duration,
               CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM (
            SELECT o_custkey,
                   MIN(CASE WHEN r = 1 THEN d END) AS t0,
                   MIN(CASE WHEN r = 2 THEN d END) AS t1
            FROM ranked WHERE r <= 2 GROUP BY o_custkey
        ), h
    ), per_t AS (
        SELECT duration AS t,
               SUM(event) AS d,
               SUM(1 - event) AS c
        FROM per_cust GROUP BY duration
    ), n AS (SELECT SUM(d + c) AS total FROM per_t),
    cum AS (
        SELECT t, d, c,
               n.total - (SUM(d + c) OVER (ORDER BY t) - (d + c))
                   AS n_at_risk
        FROM per_t, n
    ), terms AS (
        SELECT t, d, c, n_at_risk,
               CASE WHEN d > 0
                    THEN LN(GREATEST(1.0 - d * 1.0 / n_at_risk,
                                     1e-12))
                    ELSE 0.0 END AS term
        FROM cum
    )
    SELECT t AS duration,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS n_censored,
           ROUND(EXP(SUM(term) OVER (ORDER BY t)), 6) AS survival
    FROM terms
    QUALIFY d > 0
    ORDER BY duration
"""


def ext_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Benford's-law audit of order totals — observed
    leading-digit frequencies vs log10(1 + 1/d) expectation with the
    chi-square distance (the forensic-accounting screen for fabricated
    values). The leading digit comes from the INTEGER-CENTS string
    (identical formatting in both engines) — deriving it from
    floor(x/10^floor(log10 x)) would put values near powers of ten at
    libm last-ulp risk."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    # (round-11 A/B: a §20 pin here LOST 0.33→0.51 s — the before-plan
    # already reuses the digit-agg exchange (ReusedExchange), so the
    # pin only added a materialization job. Left unpinned on evidence.)
    digits = (
        orders.where(F.col("o_totalprice") > 0)
        .select(
            F.substring(cents.cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    total = digits.agg(F.sum("n_obs").alias("_n"))
    exp_p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        digits.crossJoin(F.broadcast(total))  # 1-row stats join
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("_n"), 6).alias("p_obs"),
            F.round(exp_p, 6).alias("p_benford"),
            F.round(
                F.pow(
                    F.col("n_obs") - F.col("_n") * exp_p, F.lit(2.0)
                )
                / (F.col("_n") * exp_p),
                4,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


ORACLE["ext_benford"] = """
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0)
                                    AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS digit,
               COUNT(*) AS n_obs
        FROM orders
        WHERE o_totalprice > 0
        GROUP BY 1
    ), t AS (SELECT SUM(n_obs) AS n FROM digits)
    SELECT digit,
           CAST(n_obs AS BIGINT) AS n_obs,
           ROUND(n_obs * 1.0 / t.n, 6) AS p_obs,
           ROUND(LOG10(1.0 + 1.0 / digit), 6) AS p_benford,
           ROUND(POWER(n_obs - t.n * LOG10(1.0 + 1.0 / digit), 2.0)
                 / (t.n * LOG10(1.0 + 1.0 / digit)), 4) AS chi2_term
    FROM digits, t
    ORDER BY digit
"""


def ext_drift_ks_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: per-type weekday-vs-weekend KS distance — the grouped
    form of ext_drift_ks. The CDFs here ride windows PARTITIONED BY
    event type (bounded partitions: per-type distinct values), so no
    two-phase machinery is needed; the global-order primitive is only
    for UNpartitioned order."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    s = events.where(F.col("value").isNotNull()).select(
        "event_type",
        F.col("value").alias("v"),
        (F.dayofweek("ts").isin(1, 7)).cast("long").alias("_we"),
    )
    per_v = s.groupBy("event_type", "v").agg(
        F.sum("_we").alias("_cw"),
        F.sum(F.lit(1) - F.col("_we")).alias("_cd"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cdf = (
        per_v.withColumn("_fw", F.sum("_cw").over(w_cum))
        .withColumn("_fd", F.sum("_cd").over(w_cum))
        .withColumn("_nw", F.sum("_cw").over(w_all))
        .withColumn("_nd", F.sum("_cd").over(w_all))
    )
    return (
        cdf.groupBy("event_type")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("_fw") / F.col("_nw")
                        - F.col("_fd") / F.col("_nd")
                    )
                ),
                6,
            ).alias("ks_d"),
            F.max("_nw").cast("long").alias("n_weekend"),
            F.max("_nd").cast("long").alias("n_weekday"),
        )
        .orderBy("event_type")
    )


ORACLE["ext_drift_ks_grouped"] = """
    WITH s AS (
        SELECT event_type, value AS v,
               CASE WHEN dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6)
                    THEN 1 ELSE 0 END AS we
        FROM events WHERE value IS NOT NULL
    ), per_v AS (
        SELECT event_type, v,
               SUM(we) AS cw, SUM(1 - we) AS cd
        FROM s GROUP BY event_type, v
    ), cdf AS (
        SELECT event_type,
               SUM(cw) OVER (
                   PARTITION BY event_type ORDER BY v
               ) AS fw,
               SUM(cd) OVER (
                   PARTITION BY event_type ORDER BY v
               ) AS fd,
               SUM(cw) OVER (PARTITION BY event_type) AS nw,
               SUM(cd) OVER (PARTITION BY event_type) AS nd
        FROM per_v
    )
    SELECT event_type,
           ROUND(MAX(ABS(fw * 1.0 / nw - fd * 1.0 / nd)), 6) AS ks_d,
           CAST(MAX(nw) AS BIGINT) AS n_weekend,
           CAST(MAX(nd) AS BIGINT) AS n_weekday
    FROM cdf
    GROUP BY event_type
    ORDER BY event_type
"""


def ext_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: median imputation + missingness indicators — every
    7th event's value is knocked out deterministically, the imputer
    fills the column median (one 1-row agg broadcast back) and appends
    the was-null flag models need to see missingness."""
    from mitoscape_spark.operators.features import impute_numeric

    events = load_table(spark, sf_dir, "events")
    holed = events.select(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    imp = impute_numeric(holed, ["value"], strategy="median")
    return (
        imp.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value__was_null").cast("long").alias("n_imputed"),
            F.round(F.avg("value"), 4).alias("avg_after_impute"),
        )
        .orderBy("event_type")
    )


ORACLE["ext_impute"] = """
    WITH holed AS (
        SELECT event_type,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END
                   AS value
        FROM events
    ), fill AS (
        SELECT ROUND(quantile_cont(value, 0.5), 6) AS f FROM holed
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_imputed,
           ROUND(AVG(COALESCE(value, fill.f)), 4) AS avg_after_impute
    FROM holed, fill
    GROUP BY event_type
    ORDER BY event_type
"""


def ext_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: leave-one-out target encoding of order priority
    against order value (smoothing m=10) — the high-cardinality
    categorical encoder, leakage-guarded by excluding each row's own
    label. Group stats broadcast; the encode is a projection."""
    from mitoscape_spark.operators.features import target_encode_loo

    orders = load_table(spark, sf_dir, "orders")
    enc = target_encode_loo(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        cat_col="o_orderpriority",
        target_col="o_totalprice",
        smoothing=10.0,
    )
    return enc.select(
        "o_orderkey", "o_orderpriority", F.col("o_orderpriority__te")
    ).orderBy("o_orderkey")


ORACLE["ext_target_encoding"] = """
    WITH grp AS (
        SELECT o_orderpriority,
               SUM(o_totalprice) AS sy,
               COUNT(o_totalprice) AS ny
        FROM orders GROUP BY o_orderpriority
    ), gm AS (SELECT AVG(o_totalprice) AS m FROM orders)
    SELECT o.o_orderkey, o.o_orderpriority,
           ROUND((g.sy - COALESCE(o.o_totalprice, 0.0) + 10.0 * gm.m)
                 / (g.ny - CASE WHEN o.o_totalprice IS NOT NULL
                                THEN 1 ELSE 0 END + 10.0), 6)
               AS o_orderpriority__te
    FROM orders o JOIN grp g USING (o_orderpriority), gm
    ORDER BY o.o_orderkey
"""


def ext_discretize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: equal-frequency binning of document lengths into 10
    quantile bins (two-phase global_ntile — no single-partition NTILE
    window), with per-bin occupancy and value ranges."""
    from mitoscape_spark.operators.features import (
        discretize_equal_frequency,
    )

    docs = load_table(spark, sf_dir, "documents")
    binned = discretize_equal_frequency(
        docs.select("doc_id", "n_chars"),
        value_col="n_chars",
        id_col="doc_id",
        n_bins=10,
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("bin")
    )


ORACLE["ext_discretize"] = """
    WITH ranked AS (
        SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r
        FROM documents WHERE n_chars IS NOT NULL
    ), n AS (SELECT COUNT(*) AS n FROM ranked)
    SELECT CAST(FLOOR((r - 1) * 10.0 / n.n) + 1 AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(n_chars) AS lo,
           MAX(n_chars) AS hi
    FROM ranked, n
    GROUP BY 1
    ORDER BY bin
"""


def ext_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: chi-square independence test + Cramér's V between
    event type and weekday — "does event mix depend on day of week".
    One contingency agg; expected counts from broadcast marginals; the
    test statistic is a scalar reduction."""
    events = load_table(spark, sf_dir, "events")
    # §20 pin: the contingency table feeds FIVE reductions (row/col
    # marginals, total, cells, dims) — without it the events scan +
    # agg runs five times
    obs = (
        events.groupBy(
            F.col("event_type").alias("a"),
            F.dayofweek("ts").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .transform(pin)
    )
    ma = obs.groupBy("a").agg(F.sum("o").alias("_na"))
    mb = obs.groupBy("b").agg(F.sum("o").alias("_nb"))
    tot = obs.agg(F.sum("o").alias("_n"))
    e = (
        F.col("_na").cast("double")
        * F.col("_nb").cast("double")
        / F.col("_n").cast("double")
    )
    cells = (
        obs.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))  # 1-row stats join
        .select(
            ((F.col("o") - e) * (F.col("o") - e) / e).alias("_t"),
            "_n",
        )
    )
    # dof = (r-1)(c-1); V = sqrt(chi2 / (n * min(r-1, c-1)))
    dims = obs.agg(
        F.countDistinct("a").alias("_r"),
        F.countDistinct("b").alias("_c"),
    )
    return (
        cells.agg(
            F.sum("_t").alias("_chi2"), F.max("_n").alias("_n2")
        )
        .crossJoin(F.broadcast(dims))  # 1-row stats join
        .select(
            F.round("_chi2", 4).alias("chi2"),
            ((F.col("_r") - 1) * (F.col("_c") - 1))
            .cast("long")
            .alias("dof"),
            F.round(
                F.sqrt(
                    F.col("_chi2")
                    / (
                        F.col("_n2")
                        * F.least(
                            F.col("_r") - 1, F.col("_c") - 1
                        )
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


ORACLE["ext_chi2_independence"] = """
    WITH obs AS (
        SELECT event_type AS a,
               dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS b,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ), ma AS (SELECT a, SUM(o) AS na FROM obs GROUP BY a),
    mb AS (SELECT b, SUM(o) AS nb FROM obs GROUP BY b),
    t AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
        SELECT (o.o - (ma.na * 1.0 * mb.nb / t.n))
               * (o.o - (ma.na * 1.0 * mb.nb / t.n))
               / (ma.na * 1.0 * mb.nb / t.n) AS term,
               t.n AS n
        FROM obs o JOIN ma USING (a) JOIN mb USING (b), t
    ), dims AS (
        SELECT COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c
        FROM obs
    )
    SELECT ROUND(SUM(term), 4) AS chi2,
           CAST((dims.r - 1) * (dims.c - 1) AS BIGINT) AS dof,
           ROUND(SQRT(SUM(term)
                 / (MAX(n) * LEAST(dims.r - 1, dims.c - 1))), 6)
               AS cramers_v
    FROM cells, dims
    GROUP BY dims.r, dims.c
"""


def ext_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: association rules from the co-purchase 2-itemsets —
    confidence = supp(a,b)/supp(a) and lift = confidence/P(b) for both
    rule directions of every pair with support ≥ 2 (the A-priori rule
    step on top of ext_copurchase_pairs' candidate pass). Pair and
    item supports are two hash aggs; the rule table is pair-bounded."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    # §20 pin: op feeds the n_orders count action, the item-support
    # agg, and BOTH sides of the pair self-join — four executions of
    # the distinct without the checkpoint
    op = (
        lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .transform(pin)
    )
    n_orders = op.select("l_orderkey").distinct().count()
    item = op.groupBy(F.col("l_partkey").alias("x")).agg(
        F.count(F.lit(1)).alias("_sx")
    )
    pairs = (
        op.alias("a")
        .join(op.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("x"),
            F.col("b.l_partkey").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("_sxy"))
        .where(F.col("_sxy") >= 2)
        # §20 pin: the rule table reads pairs in both directions
        .transform(pin)
    )
    both = pairs.unionByName(
        pairs.select(
            F.col("y").alias("x"),
            F.col("x").alias("y"),
            "_sxy",
        )
    )
    rules = (
        both.join(item, "x")
        .join(
            item.select(
                F.col("x").alias("y"), F.col("_sx").alias("_sy")
            ),
            "y",
        )
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            F.col("_sxy").cast("long").alias("support"),
            F.round(F.col("_sxy") / F.col("_sx"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("_sxy") / F.col("_sx"))
                / (F.col("_sy") / F.lit(float(n_orders))),
                6,
            ).alias("lift"),
        )
    )
    return rules.orderBy("antecedent", "consequent")


ORACLE["ext_association_rules"] = """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op
    ), item AS (
        SELECT l_partkey AS x, COUNT(*) AS sx FROM op GROUP BY 1
    ), pairs AS (
        SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS sxy
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), bidir AS (
        SELECT x, y, sxy FROM pairs
        UNION ALL
        SELECT y, x, sxy FROM pairs
    )
    SELECT b.x AS antecedent, b.y AS consequent,
           CAST(b.sxy AS BIGINT) AS support,
           ROUND(b.sxy * 1.0 / ix.sx, 6) AS confidence,
           ROUND((b.sxy * 1.0 / ix.sx)
                 / (iy.sx * 1.0 / n.n_orders), 6) AS lift
    FROM bidir b
    JOIN item ix ON b.x = ix.x
    JOIN item iy ON b.y = iy.x, n
    ORDER BY antecedent, consequent
"""


def ext_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: dedup-tuning table — for each Jaccard threshold, how
    many true pairs exist, how many the banded-MinHash candidates
    catch, and the resulting precision/recall. The one-look answer to
    'which threshold does THIS corpus need'; exact pairs and candidates
    are each computed once and the sweep is a broadcast threshold
    explode over the tiny pair table."""
    from mitoscape_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.0).select(
        "doc_a", "doc_b", "jaccard"
    )
    # §20 pin: cands feeds the count action AND the left join —
    # without it the MinHash banding lineage runs twice
    cands = (
        minhash_candidate_pairs(minhash_signatures(docs))
        .withColumn("_is_cand", F.lit(1))
        .transform(pin)
    )
    joined = exact.join(cands, ["doc_a", "doc_b"], "left").select(
        "jaccard", F.coalesce("_is_cand", F.lit(0)).alias("_c")
    )
    thresholds = F.explode(
        F.array(*[F.lit(t / 10.0) for t in range(2, 10)])
    ).alias("threshold")
    swept = joined.select(thresholds, "jaccard", "_c").where(
        F.col("jaccard") >= F.col("threshold")
    )
    # candidates BELOW each threshold (false positives at that cut)
    cand_total = cands.count()
    return (
        swept.groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
            F.sum("_c").cast("long").alias("n_caught"),
        )
        .select(
            "threshold",
            "n_true_pairs",
            "n_caught",
            F.round(F.col("n_caught") / F.col("n_true_pairs"), 6)
            .alias("recall"),
            F.round(
                F.col("n_caught") / F.lit(float(cand_total)), 6
            ).alias("precision_at_cut"),
        )
        .orderBy("threshold")
    )


ORACLE["ext_dedup_threshold_sweep"] = f"""
    WITH {_TOKS}, {_SHINGLES3},
    sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
        SELECT i.doc_a, i.doc_b,
               ROUND(i.n_common * 1.0
                     / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    ),
    sig AS (
        SELECT doc_id, seed,
               MIN(md5(concat(CAST(seed AS VARCHAR), '|', shingle)))
                   AS minhash
        FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               string_agg(minhash, ',' ORDER BY seed) AS band_key
        FROM sig GROUP BY doc_id, seed // 2
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    ct AS (SELECT COUNT(*) AS n_cands FROM cands),
    joined AS (
        SELECT e.jaccard,
               CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS isc
        FROM exact e
        LEFT JOIN cands c
          ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    ),
    swept AS (
        SELECT t.threshold, j.jaccard, j.isc
        FROM joined j,
             (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                  AS threshold) t
        WHERE j.jaccard >= t.threshold
    )
    SELECT s.threshold,
           CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(s.isc) AS BIGINT) AS n_caught,
           ROUND(SUM(s.isc) * 1.0 / COUNT(*), 6) AS recall,
           ROUND(SUM(s.isc) * 1.0 / ct.n_cands, 6)
               AS precision_at_cut
    FROM swept s, ct
    GROUP BY s.threshold, ct.n_cands
    ORDER BY s.threshold
"""


def ext_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: degree assortativity of the co-purchase graph —
    Pearson correlation of endpoint degrees over edges (positive =
    hubs prefer hubs). Degrees from one agg broadcast onto the edge
    list counted ONCE per direction (the standard undirected
    convention); the coefficient is one corr aggregate."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    op = lineitem.select("l_orderkey", "l_partkey").distinct()
    edges = (
        op.alias("a")
        .join(op.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("_s"))
        .where(F.col("_s") >= 2)
        .select("u", "v")
        # §20 pin: the symmetric union below embeds this lineage twice
        # (and deg/pairs each consume sym) — the co-purchase self-join
        # must run once
        .transform(pin)
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # (round-11 A/B: pinning deg LOST 0.88→0.92 s — both broadcast
    # builds re-aggregate the PINNED edge checkpoint, which is cheap;
    # the pin serializes them. Left unpinned on evidence.)
    deg = sym.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).alias("d")
    )
    pairs = (
        sym.join(
            F.broadcast(deg.select(F.col("z").alias("u"),
                                   F.col("d").alias("_du"))), "u"
        )
        .join(
            F.broadcast(deg.select(F.col("z").alias("v"),
                                   F.col("d").alias("_dv"))), "v"
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_directed_edges"),
        F.round(
            F.corr(
                F.col("_du").cast("double"),
                F.col("_dv").cast("double"),
            ),
            6,
        ).alias("assortativity"),
    )


ORACLE["ext_graph_assortativity"] = """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), sym AS (
        SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
        SELECT u AS z, COUNT(*) AS d FROM sym GROUP BY u
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
           ROUND(CORR(CAST(du.d AS DOUBLE), CAST(dv.d AS DOUBLE)), 6)
               AS assortativity
    FROM sym s
    JOIN deg du ON s.u = du.z
    JOIN deg dv ON s.v = dv.z
"""


def ext_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: global clustering coefficient = 3·triangles / wedges
    of the co-purchase graph — how much of the neighborhood structure
    closes into triangles. Triangle count via the degree-ordered
    orientation (operators/graph.py — no quadratic celebrity reducer);
    wedges = Σ d(d−1)/2 from the degree table."""
    from mitoscape_spark.operators.graph import triangle_counts

    lineitem = load_table(spark, sf_dir, "lineitem")
    op = lineitem.select("l_orderkey", "l_partkey").distinct()
    edges = (
        op.alias("a")
        .join(op.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("_s"))
        .where(F.col("_s") >= 2)
        .select("u", "v")
        # §20 pin: consumed by BOTH the triangle path and the wedge
        # branch below — without it the co-purchase self-join lineage
        # executes twice (triangle_counts pins only its internal
        # canonicalized copy)
        .transform(pin)
    )
    tri = triangle_counts(edges, src="u", dst="v").agg(
        F.sum("n_triangles").alias("_t3")
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    wedges = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("_d"))
        .agg(
            F.sum(
                F.col("_d") * (F.col("_d") - 1) / 2
            ).alias("_w")
        )
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        (F.col("_t3") / 3).cast("long").alias("n_triangles"),
        F.col("_w").cast("long").alias("n_wedges"),
        F.round(F.col("_t3") / F.col("_w"), 6).alias(
            "global_clustering"
        ),
    )


ORACLE["ext_clustering_coefficient"] = """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), tri AS (
        SELECT COUNT(*) AS t
        FROM e ab JOIN e bc ON ab.v = bc.u
        JOIN e ac ON ab.u = ac.u AND bc.v = ac.v
    ), sym AS (
        SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
        SELECT u, COUNT(*) AS d FROM sym GROUP BY u
    ), w AS (
        SELECT SUM(d * (d - 1) / 2) AS w FROM deg
    )
    SELECT CAST(tri.t AS BIGINT) AS n_triangles,
           CAST(w.w AS BIGINT) AS n_wedges,
           ROUND(3.0 * tri.t / w.w, 6) AS global_clustering
    FROM tri, w
"""


def ext_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: all-pairs cosine distance profile of the embedding
    corpus — 40 bins over [-1, 1], computed by per-block-pair GEMMs
    that reduce to bin counts INSIDE each task (O(n²·d) flops, O(bins)
    rows ever shuffled). The evidence behind the dedup-ε choice."""
    from mitoscape_spark.operators.similarity import (
        embedding_distance_histogram,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_distance_histogram(emb, n_bins=40).orderBy("bin")


ORACLE["ext_distance_histogram"] = """
    WITH pairs AS (
        SELECT list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id
    ), binned AS (
        SELECT CAST(LEAST(GREATEST(
                   FLOOR((cos + 1.0) / 2.0 * 40), 0), 39) AS INT)
                   AS bin
        FROM pairs
    )
    SELECT bin,
           ROUND(-1.0 + bin * (2.0 / 40), 6) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM binned
    GROUP BY bin
    ORDER BY bin
"""


def ext_stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: streaming bottom-k uniform sample END-TO-END — 100
    documents sampled by smallest md5 across two micro-batches; the
    final state must equal the one-shot global bottom-k (the sample
    twin of ext_stream_countmin / ext_stream_hll)."""
    from mitoscape_spark.streaming.sinks import stream_bottomk_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    return _run_two_batch_stream_service(
        spark,
        docs,
        "doc_id",
        lambda stream, root: stream_bottomk_sample(
            stream, f"{root}/pairs", f"{root}/ckpt",
            id_col="doc_id", k=100, salt="bk",
        ),
        lambda state: state.select("doc_id", "source").orderBy(
            "doc_id"
        ),
        "doc_id long, source string",
    )


ORACLE["ext_stream_sample"] = """
    SELECT doc_id, source
    FROM (
        SELECT doc_id, source,
               md5('bk' || CAST(doc_id AS VARCHAR)) AS hk
        FROM documents
    )
    ORDER BY hk, doc_id
    LIMIT 100
"""


def ext_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: per-document keyword extraction — top-3 tokens by
    TF·ln(N/DF) with raw token strings (portable IDF — unlike the
    HashingTF pipeline in operators/tfidf.py, every number here is
    engine-reproducible). One explode feeds TF and DF aggs; DF joins
    back on token; ranking windows partition by doc."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    )
    # §20 pin: tf feeds the document-frequency agg AND the scored
    # join — without it the explode + TF agg runs twice
    tf = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .transform(pin)
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = docs.select("doc_id").distinct().count()
    scored = tf.join(df_, "tok").withColumn(
        "_score",
        F.col("_tf")
        * F.log(F.lit(float(n_docs)) / F.col("_df")),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_score").desc(), "tok"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id",
            "tok",
            F.col("_tf").cast("long").alias("tf"),
            F.col("_df").cast("long").alias("df"),
            F.round("_score", 6).alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("doc_id", "rank")
    )


ORACLE["ext_keywords"] = """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), n AS (
        SELECT COUNT(DISTINCT doc_id) AS n FROM documents
    ), scored AS (
        SELECT t.doc_id, t.tok, t.tf, df.df,
               t.tf * LN(n.n * 1.0 / df.df) AS score
        FROM tf t JOIN df USING (tok), n
    )
    SELECT doc_id, tok,
           CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df,
           ROUND(score, 6) AS tfidf,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, tok
           ) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 3
    ORDER BY doc_id, rank
"""


def ext_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: higher-moment profile per event type — mean, stddev,
    skewness, excess kurtosis from CENTERED power sums (two passes:
    broadcast means, then Σ(x−μ)^k) with the population formulas
    written out identically in both engines — Spark's and DuckDB's
    built-in skewness/kurtosis use different sample corrections, so
    the built-ins can never hash-match each other."""
    events = load_table(spark, sf_dir, "events")
    s = events.where(F.col("value").isNotNull()).select(
        "event_type", F.col("value").alias("v")
    )
    mu = s.groupBy("event_type").agg(F.avg("v").alias("_mu"))
    centered = s.join(F.broadcast(mu), "event_type").select(
        "event_type", (F.col("v") - F.col("_mu")).alias("_c"), "_mu"
    )
    agg = centered.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("_mu").alias("_m"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
        F.sum(F.col("_c") * F.col("_c") * F.col("_c")).alias("_s3"),
        F.sum(
            F.col("_c") * F.col("_c") * F.col("_c") * F.col("_c")
        ).alias("_s4"),
    )
    m2 = F.col("_s2") / F.col("_n")
    m3 = F.col("_s3") / F.col("_n")
    m4 = F.col("_s4") / F.col("_n")
    return agg.select(
        "event_type",
        F.col("_n").cast("long").alias("n"),
        F.round("_m", 4).alias("mean"),
        F.round(F.sqrt(m2), 4).alias("stddev"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 4).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 4).alias("excess_kurtosis"),
    ).orderBy("event_type")


ORACLE["ext_moments"] = """
    WITH s AS (
        SELECT event_type, value AS v FROM events
        WHERE value IS NOT NULL
    ), mu AS (
        SELECT event_type, AVG(v) AS m FROM s GROUP BY event_type
    ), c AS (
        SELECT s.event_type, (s.v - mu.m) AS c, mu.m
        FROM s JOIN mu USING (event_type)
    ), agg AS (
        SELECT event_type, COUNT(*) AS n, MAX(m) AS m,
               SUM(c * c) AS s2,
               SUM(c * c * c) AS s3,
               SUM(c * c * c * c) AS s4
        FROM c GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           ROUND(m, 4) AS mean,
           ROUND(SQRT(s2 / n), 4) AS stddev,
           ROUND((s3 / n) / POWER(s2 / n, 1.5), 4) AS skewness,
           ROUND((s4 / n) / ((s2 / n) * (s2 / n)) - 3.0, 4)
               AS excess_kurtosis
    FROM agg
    ORDER BY event_type
"""


def ext_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: forecast-accuracy metrics — score the seasonal-naive
    baseline (predict day d with day d−7) per event type on daily
    totals: MAE, MAPE, SMAPE. The evaluation harness any real
    forecaster must beat; the lag join is a per-type window over the
    bounded daily rollup."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.where(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(F.round(F.sum("value"), 6).alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = (
        daily.withColumn("yhat", F.lag("y", 7).over(w))
        .where(F.col("yhat").isNotNull() & (F.col("y") != 0))
    )
    err = F.abs(F.col("y") - F.col("yhat"))
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.avg(err), 4).alias("mae"),
            F.round(F.avg(err / F.abs("y")), 6).alias("mape"),
            F.round(
                F.avg(
                    F.lit(2.0)
                    * err
                    / (F.abs("y") + F.abs("yhat"))
                ),
                6,
            ).alias("smape"),
        )
        .orderBy("event_type")
    )


ORACLE["ext_forecast_eval"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE)
    ), scored AS (
        SELECT event_type, y,
               LAG(y, 7) OVER (
                   PARTITION BY event_type ORDER BY day
               ) AS yhat
        FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(ABS(y - yhat)), 4) AS mae,
           ROUND(AVG(ABS(y - yhat) / ABS(y)), 6) AS mape,
           ROUND(AVG(2.0 * ABS(y - yhat)
                     / (ABS(y) + ABS(yhat))), 6) AS smape
    FROM scored
    WHERE yhat IS NOT NULL AND y <> 0
    GROUP BY event_type
    ORDER BY event_type
"""


def ext_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: how seasonal is each event type — the R² of the
    day-of-week-means model on daily totals (between-dow variance /
    total variance, the ANOVA decomposition behind ext_seasonal_dow's
    additive fit). Two tiny aggs over the daily rollup."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
        )
        .agg(F.round(F.sum("value"), 6).alias("y"))
        .withColumn("dow", F.dayofweek("day"))
        # §20 pin: the daily rollup feeds the dow means, the grand
        # means, and the residual join — three events scans without it
        .transform(pin)
    )
    dow_mu = daily.groupBy("event_type", "dow").agg(
        F.avg("y").alias("_dm")
    )
    overall = daily.groupBy("event_type").agg(
        F.avg("y").alias("_gm")
    )
    joined = daily.join(dow_mu, ["event_type", "dow"]).join(
        F.broadcast(overall), "event_type"
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                F.sum(
                    (F.col("_dm") - F.col("_gm"))
                    * (F.col("_dm") - F.col("_gm"))
                )
                / F.sum(
                    (F.col("y") - F.col("_gm"))
                    * (F.col("y") - F.col("_gm"))
                ),
                6,
            ).alias("seasonality_r2"),
        )
        .orderBy("event_type")
    )


ORACLE["ext_seasonality_strength"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ROUND(SUM(value), 6) AS y,
               dayofweek(CAST(ts AS DATE)) AS dow
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE),
                 dayofweek(CAST(ts AS DATE))
    ), dm AS (
        SELECT event_type, dow, AVG(y) AS dmu
        FROM daily GROUP BY event_type, dow
    ), gm AS (
        SELECT event_type, AVG(y) AS gmu
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(SUM((m.dmu - g.gmu) * (m.dmu - g.gmu))
                 / SUM((d.y - g.gmu) * (d.y - g.gmu)), 6)
               AS seasonality_r2
    FROM daily d
    JOIN dm m ON d.event_type = m.event_type AND d.dow = m.dow
    JOIN gm g ON d.event_type = g.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
"""


def ext_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Mann-Whitney U (Wilcoxon rank-sum) between click and
    purchase values — the nonparametric companion to ext_welch_ttest
    (rank-based, so outliers can't buy the verdict). Midranks come
    from the strict prefix sum over distinct values (two-phase — no
    global window); U, the tie-corrected variance, and the z score are
    exact-integer/dyadic arithmetic until the final division."""
    from mitoscape_spark.operators.orderstats import running_prefix

    events = load_table(spark, sf_dir, "events")
    s = events.where(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    ).select(
        F.col("value").alias("v"),
        (F.col("event_type") == "click").cast("long").alias("_a"),
    )
    per_v = s.groupBy("v").agg(
        F.sum("_a").alias("_c1"),
        F.sum(F.lit(1) - F.col("_a")).alias("_c2"),
    ).withColumn("_t", F.col("_c1") + F.col("_c2"))
    pre = running_prefix(
        per_v, "v", {"_s": ("_t", "sum")}, strict=True
    ).select(
        "_c1",
        "_c2",
        "_t",
        (
            F.coalesce("_s", F.lit(0.0))
            + (F.col("_t") + 1) / 2.0
        ).alias("_mid"),
    )
    agg = pre.agg(
        F.sum("_c1").alias("n1"),
        F.sum("_c2").alias("n2"),
        F.sum(F.col("_c1") * F.col("_mid")).alias("_r1"),
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    u = F.col("_r1") - n1 * (n1 + 1) / 2.0
    mu = n1 * n2 / 2.0
    var = (
        n1 * n2 / 12.0
        * ((n + 1) - F.col("_ties") / (n * (n - 1)))
    )
    return agg.select(
        n1.cast("long").alias("n_click"),
        n2.cast("long").alias("n_purchase"),
        F.round(u, 2).alias("u_stat"),
        F.round((u - mu) / F.sqrt(var), 4).alias("z_score"),
    )


ORACLE["ext_mann_whitney"] = """
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
        FROM events
        WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL
    ), per_v AS (
        SELECT v, SUM(a) AS c1, SUM(1 - a) AS c2,
               SUM(a) + SUM(1 - a) AS t
        FROM s GROUP BY v
    ), mid AS (
        SELECT c1, c2, t,
               COALESCE(SUM(t) OVER (
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + (t + 1) / 2.0 AS midrank
        FROM per_v
    ), agg AS (
        SELECT SUM(c1) AS n1, SUM(c2) AS n2,
               SUM(c1 * midrank) AS r1,
               SUM(t * t * t - t) AS ties
        FROM mid
    )
    SELECT CAST(n1 AS BIGINT) AS n_click,
           CAST(n2 AS BIGINT) AS n_purchase,
           ROUND(r1 - n1 * (n1 + 1) / 2.0, 2) AS u_stat,
           ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / SQRT(n1 * n2 / 12.0
                        * ((n1 + n2 + 1)
                           - ties * 1.0
                             / ((n1 + n2) * (n1 + n2 - 1)))), 4)
               AS z_score
    FROM agg
"""


def ext_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Spearman rank correlation between lineitem quantity
    and extended price — Pearson on MIDRANKS (ties averaged), each
    variable's midranks from one per-distinct-value agg + the strict
    two-phase prefix sum + a join back on the value. Rank-based, so a
    monotone-but-curved relation scores what Pearson under-reports."""
    from mitoscape_spark.operators.orderstats import running_prefix

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )

    def midranks(col: str, out: str):
        per_v = li.groupBy(F.col(col).alias("_v")).agg(
            F.count(F.lit(1)).alias("_t")
        )
        return running_prefix(
            per_v, "_v", {"_s": ("_t", "sum")}, strict=True
        ).select(
            F.col("_v").alias(col),
            (
                F.coalesce("_s", F.lit(0.0))
                + (F.col("_t") + 1) / 2.0
            ).alias(out),
        )

    ranked = li.select("l_quantity", "l_extendedprice").join(
        F.broadcast(midranks("l_quantity", "_rq")), "l_quantity"
    ).join(
        midranks("l_extendedprice", "_rp"), "l_extendedprice"
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.corr("_rq", "_rp"), 6).alias("spearman_rho"),
    )


ORACLE["ext_spearman"] = """
    WITH li AS (
        SELECT l_quantity AS q, l_extendedprice AS p
        FROM lineitem
        WHERE l_quantity IS NOT NULL
          AND l_extendedprice IS NOT NULL
    ), rq AS (
        SELECT _v AS q,
               COALESCE(SUM(_t) OVER (
                   ORDER BY _v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + (_t + 1) / 2.0 AS mr
        FROM (SELECT q AS _v, COUNT(*) AS _t FROM li GROUP BY q)
    ), rp AS (
        SELECT _v AS p,
               COALESCE(SUM(_t) OVER (
                   ORDER BY _v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + (_t + 1) / 2.0 AS mr
        FROM (SELECT p AS _v, COUNT(*) AS _t FROM li GROUP BY p)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CORR(rq.mr, rp.mr), 6) AS spearman_rho
    FROM li JOIN rq USING (q) JOIN rp USING (p)
"""


def ext_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: autocorrelation of daily totals per event type at
    lags 1 and 7 — the is-there-weekly-structure readout companion to
    ext_seasonality_strength. Per-type lag windows over the bounded
    daily rollup; one corr agg per lag via a lag-tagged union."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    # (round-11 A/B: a §20 pin here LOST 0.35→0.39 s — the daily-agg
    # exchange is ReusedExchange'd across the two lag branches already.
    # Left unpinned on evidence.)
    daily = (
        events.where(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    tagged = None
    for lag in (1, 7):
        part = (
            daily.withColumn("_yl", F.lag("y", lag).over(w))
            .where(F.col("_yl").isNotNull())
            .select(
                "event_type",
                F.lit(lag).alias("lag"),
                "y",
                "_yl",
            )
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    return (
        tagged.groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.corr("y", "_yl"), 6).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


ORACLE["ext_autocorrelation"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE)
    ), lagged AS (
        SELECT event_type, 1 AS lag, y,
               LAG(y, 1) OVER (
                   PARTITION BY event_type ORDER BY day
               ) AS yl
        FROM daily
        UNION ALL
        SELECT event_type, 7 AS lag, y,
               LAG(y, 7) OVER (
                   PARTITION BY event_type ORDER BY day
               ) AS yl
        FROM daily
    )
    SELECT event_type, lag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CORR(y, yl), 6) AS acf
    FROM lagged
    WHERE yl IS NOT NULL
    GROUP BY event_type, lag
    ORDER BY event_type, lag
"""


def ext_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: ROC AUC as a first-class aggregate — how well the
    heuristic quality score separates Gopher-passing from -failing
    documents, via the rank-sum identity AUC = (R₊ − n₊(n₊+1)/2) /
    (n₊·n₋) on MIDRANKS (ties share credit — the exact AUC, not the
    trapezoid approximation). Same strict-prefix midrank machinery as
    Mann-Whitney; one additional hash agg."""
    from mitoscape_spark.operators.orderstats import running_prefix
    from mitoscape_spark.operators.textstats import (
        gopher_rules,
        quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE scan, chained projections — not a self-join of two scans:
    # quality keeps text for the gopher pass, gopher keeps quality;
    # Catalyst collapses the Projects and codegen's subexpression
    # elimination shares the tokenization (round-7: dropped the
    # doc_id shuffle join, 10.1 -> ~6 s at sf0.1)
    withq = quality_scores(docs, keep=("text",)).select(
        "doc_id", "text", "quality"
    )
    j = gopher_rules(withq, keep=("quality",)).select(
        "quality", F.col("passes").cast("long").alias("_y")
    )
    per_v = j.groupBy(F.col("quality").alias("_v")).agg(
        F.sum("_y").alias("_c1"),
        F.sum(F.lit(1) - F.col("_y")).alias("_c2"),
    ).withColumn("_t", F.col("_c1") + F.col("_c2"))
    mid = running_prefix(
        per_v, "_v", {"_s": ("_t", "sum")}, strict=True
    ).select(
        "_c1",
        "_c2",
        (
            F.coalesce("_s", F.lit(0.0))
            + (F.col("_t") + 1) / 2.0
        ).alias("_mid"),
    )
    agg = mid.agg(
        F.sum("_c1").alias("n_pos"),
        F.sum("_c2").alias("n_neg"),
        F.sum(F.col("_c1") * F.col("_mid")).alias("_r1"),
    )
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.round(
            (
                F.col("_r1")
                - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
            )
            / (F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


ORACLE["ext_auc"] = """
    WITH toks AS (
        SELECT doc_id, text,
               string_split(lower(text), ' ') AS t
        FROM documents
    ), q AS (
        SELECT doc_id,
               ROUND(
                   LEAST(len(t) / 50.0, 1.0) * 0.4
                   + (1 - LEAST(
                       (LENGTH(text) - LENGTH(regexp_replace(
                            text, '[^a-zA-Z0-9 ]', '', 'g')))
                       * 1.0 / GREATEST(LENGTH(text), 1), 1.0)) * 0.3
                   + LEAST(len(list_intersect(t,
                       ['the','a','is','of','and','to','in','that',
                        'it','for'])) / 5.0, 1.0) * 0.3,
               4) AS quality,
               len(t) AS n,
               (LENGTH(text) - len(t) + 1) * 1.0 / len(t) AS mean_len,
               LENGTH(regexp_replace(lower(text), '[^a-z ]', '', 'g'))
                   * 1.0 / GREATEST(LENGTH(text), 1) AS alpha_frac,
               len(list_intersect(t,
                   ['the','a','is','of','and','to','in','that',
                    'it','for'])) AS stop_hits,
               len(list_distinct(t)) * 1.0 / len(t) AS distinct_ratio
        FROM toks
    ), labeled AS (
        SELECT quality,
               CASE WHEN n >= 20 AND n <= 1000
                         AND mean_len >= 2.0 AND mean_len <= 12.0
                         AND alpha_frac >= 0.8
                         AND stop_hits >= 2
                         AND distinct_ratio >= 0.2
                    THEN 1 ELSE 0 END AS y
        FROM q
    ), per_v AS (
        SELECT quality AS v, SUM(y) AS c1, SUM(1 - y) AS c2,
               COUNT(*) AS t
        FROM labeled GROUP BY quality
    ), mid AS (
        SELECT c1, c2,
               COALESCE(SUM(t) OVER (
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + (t + 1) / 2.0 AS midrank
        FROM per_v
    ), agg AS (
        SELECT SUM(c1) AS n1, SUM(c2) AS n2,
               SUM(c1 * midrank) AS r1
        FROM mid
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos,
           CAST(n2 AS BIGINT) AS n_neg,
           ROUND((r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2), 6) AS auc
    FROM agg
"""


def ext_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-round5: Wilson 95% confidence interval for each event type's
    share of all events — interval estimation next to the test family
    (the Wilson interval stays inside [0,1] and behaves at small n,
    unlike the naive Wald interval). One contingency agg + closed-form
    scalar math."""
    events = load_table(spark, sf_dir, "events")
    # §20 pin: the 5-row count table feeds the total agg AND the
    # readout — without it the events scan + agg runs twice
    counts = (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_k"))
        .transform(pin)
    )
    tot = counts.agg(F.sum("_k").alias("_n"))
    z = F.lit(1.959963984540054)  # Phi^-1(0.975)
    k, n = F.col("_k").cast("double"), F.col("_n").cast("double")
    p = k / n
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = (
        z
        * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        / denom
    )
    return (
        counts.crossJoin(F.broadcast(tot))  # 1-row stats join
        .select(
            "event_type",
            F.col("_k").cast("long").alias("n_events"),
            F.round(p, 6).alias("share"),
            F.round(center - half, 6).alias("ci_lo"),
            F.round(center + half, 6).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


ORACLE["ext_wilson_ci"] = """
    WITH counts AS (
        SELECT event_type, COUNT(*) AS k FROM events
        GROUP BY event_type
    ), tot AS (SELECT SUM(k) AS n FROM counts)
    SELECT event_type,
           CAST(k AS BIGINT) AS n_events,
           ROUND(k * 1.0 / n, 6) AS share,
           ROUND(((k * 1.0 / n) + 1.959963984540054 * 1.959963984540054
                      / (2 * (n * 1.0)))
                 / (1 + 1.959963984540054 * 1.959963984540054 / (n * 1.0))
                 - 1.959963984540054
                   * SQRT((k * 1.0 / n) * (1 - k * 1.0 / n) / (n * 1.0)
                          + 1.959963984540054 * 1.959963984540054
                            / (4 * (n * 1.0) * (n * 1.0)))
                   / (1 + 1.959963984540054 * 1.959963984540054
                          / (n * 1.0)), 6) AS ci_lo,
           ROUND(((k * 1.0 / n) + 1.959963984540054 * 1.959963984540054
                      / (2 * (n * 1.0)))
                 / (1 + 1.959963984540054 * 1.959963984540054 / (n * 1.0))
                 + 1.959963984540054
                   * SQRT((k * 1.0 / n) * (1 - k * 1.0 / n) / (n * 1.0)
                          + 1.959963984540054 * 1.959963984540054
                            / (4 * (n * 1.0) * (n * 1.0)))
                   / (1 + 1.959963984540054 * 1.959963984540054
                          / (n * 1.0)), 6) AS ci_hi
    FROM counts, tot
    ORDER BY event_type
"""


# ------------------------------------------------- PQ/IVFPQ, oracle-pinned
#
# The fitted PQ/IVF queries (ext_ann_pq / ext_ann_ivfpq) stay rows-only:
# k-means state is a function of the data, so a DuckDB oracle would have
# to embed numbers computed by the system under test. These _literal
# variants swap in seeded data-INdependent codebooks/centroids (the
# ext_ann_lsh trick, round-5 verdict item 5) so DuckDB re-derives the
# full encode -> ADC distance table -> top-k (and for IVFPQ the cell
# assignment + probe pruning) from the same literals, end-to-end.

_PQL_M, _PQL_K, _PQL_D, _PQL_SEED = 8, 16, 64, 1234
_IVFL_N, _IVFL_PROBE, _IVFL_SEED = 8, 3, 4321


def _pq_literal_oracle_parts() -> tuple[str, int]:
    """Shared pieces for the PQ-literal oracles: the books VALUES
    literal and the subspace width d_sub."""
    from mitoscape_spark.operators.similarity import literal_pq_codebooks

    books = literal_pq_codebooks(_PQL_M, _PQL_K, _PQL_D, _PQL_SEED)
    rows = ",\n            ".join(
        f"({j}, {c}, CAST([{', '.join(repr(float(x)) for x in books[j, c])}]"
        " AS DOUBLE[]))"
        for j in range(_PQL_M)
        for c in range(_PQL_K)
    )
    d_sub = _PQL_D // _PQL_M
    return rows, d_sub


def _ann_pq_literal_oracle_sql(with_ivf: bool) -> str:
    """DuckDB restatement of the literal-codebook PQ (and IVFxPQ) path.

    Encode: per (vector, subspace) argmin of ||u_j - cent||^2 over the
    literal books, numpy's first-index tie-break mirrored by ROW_NUMBER
    ordered (d2, c). ADC: score = sum_j <q_j, cent[j, code_j]>, rounded
    to 6 (float caveat: a flip needs two distances within ~1e-13 — the
    sign-LSH class of negligible, and it would fail the hash loudly).
    IVFxPQ adds literal-centroid cell assignment (argmax dot, ties to
    the lowest cell id exactly as numpy argmax) and n_probe pruning
    BEFORE the ADC scan, so the oracle checks pruning is real."""
    from mitoscape_spark.operators.similarity import literal_ivf_centroids

    brow, d_sub = _pq_literal_oracle_parts()
    sub = (
        "list_slice({src}, books.j * %d + 1, books.j * %d + %d)"
        % (d_sub, d_sub, d_sub)
    )
    e_sub = sub.format(src="scan.u")
    q_sub = sub.format(src="qn.u")
    if with_ivf:
        cents = literal_ivf_centroids(_IVFL_N, _PQL_D, _IVFL_SEED)
        crow = ",\n            ".join(
            f"({cc}, CAST([{', '.join(repr(float(x)) for x in cents[cc])}]"
            " AS DOUBLE[]))"
            for cc in range(_IVFL_N)
        )
        ivf_ctes = f""",
        cells(cc, cv) AS (VALUES
            {crow}
        ),
        assign AS (
            SELECT vec_id, cc FROM (
                SELECT en.vec_id, cells.cc,
                       ROW_NUMBER() OVER (
                           PARTITION BY en.vec_id
                           ORDER BY list_dot_product(en.u, cells.cv) DESC,
                                    cells.cc) AS rn
                FROM en, cells
            ) WHERE rn = 1
        ),
        probe AS (
            SELECT cc FROM (
                SELECT cells.cc,
                       ROW_NUMBER() OVER (
                           ORDER BY list_dot_product(qn.u, cells.cv) DESC,
                                    cells.cc) AS rn
                FROM qn, cells
            ) WHERE rn <= {_IVFL_PROBE}
        ),
        scan AS (
            SELECT en.vec_id, en.u FROM en
            JOIN assign ON en.vec_id = assign.vec_id
            JOIN probe ON assign.cc = probe.cc
        )"""
    else:
        ivf_ctes = ",\n        scan AS (SELECT vec_id, u FROM en)"
    return f"""
        WITH books(j, c, cent) AS (VALUES
            {brow}
        ),
        q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE vec_id = 0
        ),
        qn AS (
            SELECT list_transform(v, x -> x /
                GREATEST(sqrt(list_dot_product(v, v)), 1e-12)) AS u
            FROM q
        ),
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id != 0
        ),
        en AS (
            SELECT vec_id, list_transform(v, x -> x /
                GREATEST(sqrt(list_dot_product(v, v)), 1e-12)) AS u
            FROM e
        ){ivf_ctes},
        dist AS (
            SELECT scan.vec_id, books.j, books.c,
                   list_dot_product({e_sub}, {e_sub})
                   - 2 * list_dot_product({e_sub}, books.cent)
                   + list_dot_product(books.cent, books.cent) AS d2
            FROM scan, books
        ),
        codes AS (
            SELECT vec_id, j, c AS code FROM (
                SELECT vec_id, j, c,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                          ORDER BY d2, c) AS rn
                FROM dist
            ) WHERE rn = 1
        ),
        qtab AS (
            SELECT books.j, books.c,
                   list_dot_product({q_sub}, books.cent) AS dp
            FROM qn, books
        ),
        scored AS (
            SELECT codes.vec_id, SUM(qtab.dp) AS score
            FROM codes JOIN qtab
              ON codes.j = qtab.j AND codes.code = qtab.c
            GROUP BY codes.vec_id
        )
        SELECT vec_id AS id, ROUND(score, 6) AS score
        FROM scored ORDER BY score DESC, id LIMIT 10
    """


def ext_ann_pq_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k with literal (seeded, data-independent) codebooks —
    the oracle-checkable twin of ext_ann_pq: same encode/ADC/topk code
    path, quantizer state swapped for literals DuckDB also gets."""
    from mitoscape_spark.operators.similarity import (
        PQIndex,
        literal_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    pq = PQIndex(m=_PQL_M, k=_PQL_K)
    pq.codebooks = literal_pq_codebooks(_PQL_M, _PQL_K, _PQL_D, _PQL_SEED)
    codes = pq.encode(emb.where(F.col("vec_id") != 0))
    return pq.topk(codes, list(query), k=10)


ORACLE["ext_ann_pq_literal"] = _ann_pq_literal_oracle_sql(with_ivf=False)


def ext_ann_ivfpq_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFxPQ with literal coarse centroids + codebooks: cell
    assignment, n_probe pruning, and the ADC scan all re-derived by the
    DuckDB oracle from the same seeded literals."""
    from mitoscape_spark.operators.similarity import (
        IVFPQIndex,
        literal_ivf_centroids,
        literal_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    idx = IVFPQIndex(
        n_centroids=_IVFL_N, n_probe=_IVFL_PROBE, m=_PQL_M, k=_PQL_K
    )
    idx.ivf.centroids = literal_ivf_centroids(_IVFL_N, _PQL_D, _IVFL_SEED)
    idx.pq.codebooks = literal_pq_codebooks(
        _PQL_M, _PQL_K, _PQL_D, _PQL_SEED
    )
    index = idx.encode(emb.where(F.col("vec_id") != 0))
    return idx.topk(index, list(query), k=10)


ORACLE["ext_ann_ivfpq_literal"] = _ann_pq_literal_oracle_sql(with_ivf=True)


def ext_multimodal_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant-oracle companion to ext_multimodal_features (round-5
    verdict item 7): same synthetic REAL-format corpus, same stdlib
    decode path, but emitting integer invariants of each decoded array
    — element count, byte checksum, unnormalized histogram bucket 0.
    Every decoded byte of the synthetic corpus is a closed-form
    function of doc_id (WAV samples ((i*(2d+1)) mod 65536)>>8, image
    pixels (i*(d+7)) mod 256), so the DuckDB oracle re-derives all
    three columns from scratch — the decode machinery is hash-checked
    even though the float features can't be."""
    from mitoscape_spark.sources.multimodal import (
        decode_invariants,
        synthetic_decodable_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_decodable_media(spark, docs)
    return decode_invariants(media).orderBy("media_id")


# closed-form restatement of the decode: see sources/multimodal.py —
# WAV decode is ((i*(2*doc_id+1)) % 65536) >> 8 over i=0..255; PPM/BMP
# pixels are (i*(doc_id+7)) % 256 over i=0..191 (BMP's bottom-up BGR
# round-trips to the same RGB sequence). bucket0 = bytes < 16.
ORACLE["ext_multimodal_invariants"] = """
    WITH wav AS (
        SELECT d.doc_id AS media_id, 'audio' AS modality, 'wav' AS fmt,
               CAST(COUNT(*) AS BIGINT) AS n_decoded,
               CAST(SUM(((t.i * (2 * d.doc_id + 1)) % 65536) // 256)
                    AS BIGINT) AS byte_sum,
               CAST(SUM(CASE WHEN ((t.i * (2 * d.doc_id + 1)) % 65536)
                                  // 256 < 16
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_lt16
        FROM documents d, range(256) t(i)
        WHERE d.doc_id % 3 = 0
        GROUP BY d.doc_id
    ), img AS (
        SELECT d.doc_id AS media_id, 'image' AS modality,
               CASE WHEN d.doc_id % 3 = 1 THEN 'ppm' ELSE 'bmp' END AS fmt,
               CAST(COUNT(*) AS BIGINT) AS n_decoded,
               CAST(SUM((t.i * (d.doc_id + 7)) % 256) AS BIGINT)
                   AS byte_sum,
               CAST(SUM(CASE WHEN (t.i * (d.doc_id + 7)) % 256 < 16
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_lt16
        FROM documents d, range(192) t(i)
        WHERE d.doc_id % 3 != 0
        GROUP BY d.doc_id
    )
    SELECT * FROM wav UNION ALL SELECT * FROM img ORDER BY media_id
"""


# the declared queries: every ext_* function above, in definition order,
# then one _run_sql per _SQL_TEXT entry
QUERIES = {n: f for n, f in globals().items() if n.startswith("ext_")} | {
    n: partial(_run_sql, sql) for n, sql in _SQL_TEXT.items()
}
