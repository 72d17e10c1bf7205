"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting. All pure column expressions (every
one is oracle-checkable cross-engine; regexes stay within the subset
Java regex and RE2 agree on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mitoscape_spark.pins import pin

# tiny built-in stopword profiles; deterministic, restated identically
# as the _STOP_SQL lists at the top of queries/extensions.py, which the
# DuckDB oracles embed
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "pour"),
    "de": ("der", "die", "das", "und", "ein", "ist", "für", "von"),
    "es": ("el", "la", "de", "y", "un", "una", "es", "para"),
}


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish proxy (ceil(chars/4) — the common
    rule-of-thumb subword estimate) per document."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(F.split(t, " ")).alias("n_ws_tokens"),
        F.ceil(F.length(t) / 4).cast("long").alias("n_bpe_est"),
    )


# GPT-2-style pre-tokenization regex, restricted to the Java/RE2-common
# subset: contraction suffixes, space-prefixed letter runs, digit runs,
# punctuation runs, residual spaces. (The original's trailing-space
# lookahead `\s+(?!\S)` is dropped — RE2 has no lookaround.)
BPE_SPLIT_PATTERN = (
    "'(?:[sdmt]|ll|ve|re)"
    "| ?\\p{L}+"
    "| ?\\p{N}+"
    "| ?[^\\p{L}\\p{N} ]+"
    "| +"
)


def bpe_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Real BPE-style pre-tokenization (vs token_counts' chars/4
    estimate): regexp_extract_all against the GPT-2 split pattern —
    JVM-side, narrow, no Python boundary. Returns the token array plus
    total/distinct counts per doc."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_PATTERN), 0)
    return docs.select(
        "doc_id",
        toks.alias("bpe_tokens"),
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_bpe_distinct"),
    )


def quality_scores(
    docs: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a
    composite score in [0,1] (rounded for cross-engine comparison).

    ``keep`` passes extra input columns through the projection, so a
    caller that also needs another per-doc expression over the SAME
    text (e.g. ext_auc's gopher label) can chain projections instead
    of self-joining two scans — Catalyst collapses chained Projects
    and codegen's subexpression elimination shares the tokenization."""
    t = F.col(text_col)
    toks = F.split(F.lower(t), " ")
    n_toks = F.size(toks)
    stop = LANG_PROFILES["en"]
    stop_arr = F.array(*[F.lit(s) for s in stop])
    n_stop = F.size(F.array_intersect(toks, stop_arr))
    punct_chars = F.length(t) - F.length(
        F.regexp_replace(t, r"[^a-zA-Z0-9 ]", "")
    )
    avg_wlen = (
        F.length(t) - n_toks + 1
    ) / n_toks  # total chars minus spaces over tokens
    score = (
        F.least(n_toks / 50.0, F.lit(1.0)) * 0.4
        + (1 - F.least(punct_chars / F.greatest(F.length(t), F.lit(1)), F.lit(1.0)))
        * 0.3
        + F.least(n_stop / 5.0, F.lit(1.0)) * 0.3
    )
    return docs.select(
        "doc_id",
        *keep,
        n_toks.alias("n_tokens"),
        F.round(avg_wlen, 4).alias("avg_word_len"),
        punct_chars.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        F.round(score, 4).alias("quality"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram-heuristic language ID: argmax stopword-profile hit count,
    ties broken by lexicographically-last language code, 'und'
    (undetermined) when no profile matches at all."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    hits = [
        F.struct(
            F.size(
                F.array_intersect(
                    toks, F.array(*[F.lit(s) for s in profile])
                )
            ).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, profile in sorted(LANG_PROFILES.items())
    ]
    # struct ordering compares (hits, lang) field-by-field: desc sort
    # puts max hits first, lexicographically-last lang on ties
    best = F.sort_array(F.array(*hits), asc=False)[0]
    return docs.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"])
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
        best["hits"].alias("lang_hits"),
    )


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    tokens that are repeats (1 − distinct/total) and the fraction of
    all bigrams taken by the single most frequent bigram. High values
    flag boilerplate / degenerate text that training-data pipelines
    drop before dedup even runs.

    Token stats are pure map-side array expressions; the bigram mode
    needs one shuffle on (doc_id, bigram) then a per-doc rollup —
    both keyed by doc_id, so AQE coalesces them into adjacent stages.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    base = docs.select(
        "doc_id",
        F.round(F.lit(1.0) - F.size(F.array_distinct(toks)) / n, 6).alias(
            "dup_token_frac"
        ),
        toks.alias("_toks"),
        n.alias("_n"),
    )
    pair_len = F.greatest(F.col("_n") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("_toks", F.lit(1), pair_len),
        F.slice("_toks", F.lit(2), pair_len),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    mode_frac = (
        base.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg((F.max("count") / F.sum("count")).alias("_tbf"))
    )
    return (
        base.select("doc_id", "dup_token_frac")
        .join(mode_frac, "doc_id", "left")
        .select(
            "doc_id",
            "dup_token_frac",
            F.round(F.coalesce(F.col("_tbf"), F.lit(0.0)), 6).alias(
                "top_bigram_frac"
            ),
        )
    )


def fingerprints(
    docs: DataFrame, text_col: str = "text", window: int = 4
) -> DataFrame:
    """Document fingerprint: min md5 over rolling token windows
    (winnowing-style single fingerprint; equal fingerprints ⇒ shared
    window, a cheap near-dup prefilter)."""
    from mitoscape_spark.operators.dedup import shingles

    return (
        shingles(docs.select("doc_id", F.col(text_col).alias("text")), window)
        .groupBy("doc_id")
        .agg(F.min(F.md5(F.col("shingle"))).alias("fingerprint"))
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, fp): winnowing fingerprint SET — the min k-gram hash of
    every sliding window of ``window`` consecutive k-gram hashes
    (Schleimer/Wilkerson/Aiken's MOSS scheme, distinct-set variant).

    Unlike the single-min ``fingerprints`` above (one value per doc),
    winnowing guarantees LOCAL matches: any shared token run of length
    ≥ k + window − 1 yields at least one shared fingerprint, so
    plagiarism-style partial overlap is detectable, not just whole-doc
    similarity. Docs shorter than k + window − 1 tokens emit nothing.

    Entirely JVM higher-order functions (sequence → transform →
    slice → array_min → array_distinct → explode): a generator +
    project per row, no shuffle until the consumer aggregates; hashes
    are md5 hex strings whose lexicographic min is engine-portable, so
    the operator is oracle-checkable verbatim.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    grams_h = F.expr(
        f"transform(sequence(0, size(toks) - {k}),"
        f" i -> md5(concat_ws(' ', slice(toks, i + 1, {k}))))"
    )
    wins = F.expr(
        f"transform(sequence(0, size(h) - {window}),"
        f" i -> array_min(slice(h, i + 1, {window})))"
    )
    from mitoscape_spark.plans import ensure_min_parallelism

    # the per-row k-gram md5 fan-out is the cost here; single-row-group
    # inputs plan it as ONE task (PERF.md §23) — spread rows first
    # (no-op on real layouts)
    return (
        ensure_min_parallelism(docs.select("doc_id", F.col(text_col)))
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= k)
        .select("doc_id", grams_h.alias("h"))
        .where(F.size("h") >= window)
        .select("doc_id", F.explode(F.array_distinct(wins)).alias("fp"))
    )


def bigram_lm_scores(
    docs: DataFrame, text_col: str = "text", smoothing: float = 0.5
) -> DataFrame:
    """(doc_id, n_bigrams, nll): per-document mean negative log
    likelihood under an add-k-smoothed bigram LM trained on the corpus
    itself — the CCNet-style perplexity quality signal (documents
    whose word transitions are atypical for the corpus score high).

    Shape, all relational:
      1. bigrams per doc from the token array (generator, no shuffle,
         no self-join: transform over an index sequence);
      2. corpus model = two hash aggs (bigram counts, context counts)
         + one scalar vocab count;
      3. score = doc bigrams ⋈ bigram counts ⋈ context counts →
         per-doc AVG of −ln((c(w1,w2)+k)/(c(w1·)+k·V)).

    Scale: the model tables are vocabulary-sized (broadcastable for
    real vocabularies: V² bigram space is sparse, observed bigrams ≪
    corpus tokens); the only fact-sized shuffle is the per-doc
    aggregation. Hot function words skew the w1 join key — AQE
    skew-split handles it (session default).

    Docs with < 2 tokens emit nothing (no transitions to score).
    """
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col(text_col)), " ").alias("t")
    )
    bg = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    # (round-11 A/B: pinning bc LOST — the bc agg exchange is
    # ReusedExchange'd between the unigram rollup and the scoring
    # join once uc derives from bc; the pin only added a job.)
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    # round 11 (guide §2.3, aggregate before you shuffle): c(w1·) is
    # the row-sum of the bigram table — Σ_w2 c(w1,w2) ≡ count of
    # bigrams starting at w1 — so derive it from bc instead of
    # re-exploding every document a second time (one full
    # explode+shuffle removed; counts are identical by definition)
    uc = bc.groupBy("w1").agg(F.sum("cb").alias("cu"))
    vocab = toks.select(F.explode("t").alias("w")).agg(
        F.countDistinct("w").alias("nv")
    )
    k = F.lit(smoothing)
    return (
        bg.join(bc, ["w1", "w2"])
        .join(uc, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(-F.ln((F.col("cb") + k) / (F.col("cu") + k * F.col("nv")))),
                4,
            ).alias("nll"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_idx, chunk, n_tokens): overlapping token-window
    chunks — the standard training-data preparation step (context-sized
    pieces with overlap so no boundary text is lost).

    Stride = chunk_size − overlap; the last chunk may be short; docs
    shorter than one chunk yield one chunk. Pure JVM higher-order
    functions (sequence → transform → slice): a generator + project,
    no shuffle, no Python.
    """
    assert 0 <= overlap < chunk_size
    stride = chunk_size - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # chunk starts: 0, stride, 2*stride, ... while start < n (at least one)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1)
    ).cast("int")
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("idx"),
            F.slice(toks, i * stride + 1, chunk_size).alias("toks"),
        ),
    )
    exploded = docs.select(
        "doc_id", F.explode(chunks).alias("c")
    )
    return exploded.select(
        "doc_id",
        F.col("c.idx").alias("chunk_idx"),
        F.array_join(F.col("c.toks"), " ").alias("chunk"),
        F.size(F.col("c.toks")).alias("n_tokens"),
    )


def gopher_rules(
    docs: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Gopher-style quality rule gate (Rae et al. 2021, §A1.1 subset):
    per-document boolean per rule + the conjunction, as pure column
    expressions (cross-engine reproducible, zero Python).

    Rules (thresholds tuned to this corpus's scale; production corpora
    use the paper's 50–100k words etc.):
      r_wordcount  — token count within [20, 1000]
      r_meanlen    — mean token length within [2, 12]
      r_alpha      — ≥ 80% of tokens contain an alphabetic character
      r_stopwords  — ≥ 2 distinct english stopwords present
      r_repetition — distinct-token ratio ≥ 0.2 (degenerate repetition)
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    # mean token length without a per-token explode: total non-space
    # chars / token count
    mean_len = (
        F.length(F.regexp_replace(F.col(text_col), " ", "")) / n
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("^.*[a-z].*$"))) / n
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in LANG_PROFILES["en"]]),
        )
    )
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    out = docs.select(
        "doc_id",
        *keep,
        ((n >= 20) & (n <= 1000)).alias("r_wordcount"),
        ((mean_len >= 2.0) & (mean_len <= 12.0)).alias("r_meanlen"),
        (alpha_frac >= 0.8).alias("r_alpha"),
        (stop_hits >= 2).alias("r_stopwords"),
        (distinct_ratio >= 0.2).alias("r_repetition"),
    )
    return out.withColumn(
        "passes",
        F.col("r_wordcount")
        & F.col("r_meanlen")
        & F.col("r_alpha")
        & F.col("r_stopwords")
        & F.col("r_repetition"),
    )


def boilerplate_fractions(
    docs: DataFrame, n: int = 3, min_docs: int = 3
) -> DataFrame:
    """Per-document CORPUS-level repetition: the fraction of a doc's
    distinct n-token shingles that occur in ≥ ``min_docs`` documents
    corpus-wide — the boilerplate/template signal (headers, footers,
    navigation, license blurbs) that per-document repetition scores
    (``repetition_scores``) structurally cannot see, and a standard
    web-corpus quality filter next to the Gopher rules.

    Plan: distinct (doc, shingle) pairs → one shuffle groups document
    frequency per shingle → join back on shingle (co-partitioned with
    the agg, so the Exchange is reused) → per-doc agg. Docs shorter
    than ``n`` tokens have no shingles and are absent from the output
    (callers treating absence as "no boilerplate" should left-join).

    100 TB shape: both shuffles key on the shingle string; at extreme
    corpus sizes swap in the long-id shingle dictionary trick used by
    the Jaccard prefix join (operators/dedup.py) to shrink shuffle
    width — kept as plain strings here so the DuckDB oracle recomputes
    the identical keys.
    """
    from mitoscape_spark.operators.dedup import shingles

    sh = shingles(docs, n)  # distinct per doc by construction
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("df") >= min_docs).cast("long")
            ).alias("n_common"),
        )
        .withColumn(
            "boilerplate_frac",
            F.round(F.col("n_common") / F.col("n_shingles"), 6),
        )
    )


def token_group_pmi(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_k: int = 5,
) -> DataFrame:
    """Per-group characteristic vocabulary: pointwise mutual information
    between token and group, PMI(t, g) = ln( P(t,g) / (P(t)·P(g)) ) —
    the domain-signature statistic (which tokens over-index in THIS
    source vs the corpus). Returns the ``top_k`` tokens per group by
    PMI (ties broken by token), with counts and PMI rounded to 6 dp.

    Plan shape: one token explode feeds ONE (token, group) hash agg;
    token marginals re-aggregate that (already-small) table — the raw
    token stream is shuffled exactly once; group marginals and the
    grand total are tiny broadcast stats joins. The ranking window
    partitions by group — bounded by per-group distinct vocabulary,
    never a global sort.

    Cross-engine determinism: the PMI ratio is computed as
    (double(c_tg)·double(N)) / (double(c_t)·double(c_g)) — two IEEE
    multiplies and one divide on exact integers, bit-identical in
    DuckDB; ranking uses the ratio (not its log), and ln() only feeds
    the ROUND(…, 6)-ed display value.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.lower(text_col), " ")).alias("tok"),
    )
    # §20 pin: c_tg (the reduced (token, group) table) feeds the token
    # marginal, the group marginal, the grand total AND the final join
    # — four re-executions of the corpus explode+agg without it
    c_tg = (
        toks.groupBy("tok", "grp")
        .agg(F.count(F.lit(1)).alias("c_tg"))
        .transform(pin)
    )
    c_t = c_tg.groupBy("tok").agg(F.sum("c_tg").alias("c_t"))
    c_g = c_tg.groupBy("grp").agg(F.sum("c_tg").alias("c_g"))
    total = c_tg.agg(F.sum("c_tg").alias("n_total"))

    ratio = (
        F.col("c_tg").cast("double") * F.col("n_total").cast("double")
    ) / (F.col("c_t").cast("double") * F.col("c_g").cast("double"))
    w = Window.partitionBy("grp").orderBy(
        F.col("_ratio").desc(), F.col("tok")
    )
    return (
        c_tg.join(c_t, "tok")
        .join(F.broadcast(c_g), "grp")
        .crossJoin(F.broadcast(total))  # 1-row stats join
        .withColumn("_ratio", ratio)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("grp").alias(group_col),
            "tok",
            F.col("c_tg").cast("long").alias("n_tok_grp"),
            F.round(F.log("_ratio"), 6).alias("pmi"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def zipf_fit(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Least-squares fit of the corpus rank–frequency law: slope and
    intercept of ln(freq) ~ ln(rank) over the vocabulary (Zipf's law
    predicts slope ≈ −1; a much flatter slope is a classic symptom of
    templated/duplicated corpora, a steeper one of tiny vocabularies).

    Plan shape: one explode → token hash agg builds the vocabulary
    (corpus-bounded, far smaller than the token stream); exact ranks
    come from ``ranking.global_rank`` (two-phase — no single-partition
    window even for billion-token vocabularies); the fit itself is one
    covar/var aggregate. Output rounds to 4 dp — the aggregate sums
    floats, and 4 dp absorbs both engines' summation-order jitter.
    """
    from mitoscape_spark.operators.ranking import global_rank

    vocab = (
        docs.select(
            F.explode(F.split(F.lower(text_col), " ")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = global_rank(
        vocab.withColumn("_neg", -F.col("freq").cast("double")),
        score_col="_neg",
        id_col="tok",
        out_col="rnk",
    )
    pts = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(slope, 4).alias("slope"),
        F.round(F.avg("y") - slope * F.avg("x"), 4).alias("intercept"),
    )


def novelty_fractions(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document marginal novelty in corpus (doc_id) order: the
    fraction of a doc's distinct n-token shingles whose corpus-FIRST
    occurrence (minimum doc_id) is this document. The ingest-curve
    statistic dedup pipelines watch — novelty collapsing toward zero
    means the crawl is re-reading itself and the marginal document buys
    nothing; the mirror of ``boilerplate_fractions`` (which scores how
    COMMON a doc's shingles are, not WHO minted them).

    Plan: distinct (doc, shingle) pairs → min(doc_id) per shingle (one
    shuffle on shingle) → join back on shingle (Exchange reuse, same
    shape as boilerplate_fractions) → per-doc agg. Docs shorter than
    ``n`` tokens have no shingles and are absent.
    """
    from mitoscape_spark.operators.dedup import shingles

    sh = shingles(docs, n)  # distinct per doc by construction
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("_first"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.round(
                F.avg(
                    (F.col("_first") == F.col("doc_id")).cast("double")
                ),
                6,
            ).alias("novel_frac"),
        )
    )


def heaps_curve(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Vocabulary-growth curve (Heaps' law V(n) ≈ K·n^β): for each
    document in corpus (doc_id) order, the cumulative token count and
    cumulative distinct vocabulary up to and including it. Zipf's
    cousin (``zipf_fit``) describes the frequency law; this one answers
    the scaling question — is the vocabulary still growing, or has the
    crawl saturated?

    Plan: one explode feeds (a) per-doc token counts and (b) per-token
    first-occurrence doc (min doc_id); "new vocabulary minted per doc"
    re-aggregates (b). Both cumulative sums run through
    ``orderstats.running_prefix`` — two-phase, no single-partition
    global window at any corpus size.
    """
    from mitoscape_spark.operators.orderstats import running_prefix

    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(text_col), " ")).alias("tok"),
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("_fd"))
    minted = first.groupBy(F.col("_fd").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("_v")
    )
    joined = per_doc.join(minted, "doc_id", "left").select(
        "doc_id",
        "_n",
        F.coalesce("_v", F.lit(0)).alias("_v"),
    )
    return running_prefix(
        joined,
        "doc_id",
        {"_ct": ("_n", "sum"), "_cv": ("_v", "sum")},
    ).select(
        "doc_id",
        F.col("_ct").cast("long").alias("cum_tokens"),
        F.col("_cv").cast("long").alias("cum_vocab"),
    )


def token_entropy(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-group token-distribution statistics: Shannon entropy
    H = −Σ p ln p (nats), distinct-token count, and type–token ratio —
    the lexical-diversity profile (a template-farm source shows low
    entropy and TTR long before a human reads it). One explode feeds
    one (group, token) agg; entropy is a per-group sum over the
    already-reduced count table.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.lower(text_col), " ")).alias("tok"),
    )
    counts = toks.groupBy("grp", "tok").agg(
        F.count(F.lit(1)).alias("_c")
    )
    from pyspark.sql import Window

    tot = F.sum("_c").over(Window.partitionBy("grp"))
    p = F.col("_c") / tot
    return (
        counts.select("grp", "tok", "_c", (-p * F.log(p)).alias("_h"))
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.sum("_c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(F.sum("_h"), 6).alias("entropy"),
            F.round(F.count(F.lit(1)) / F.sum("_c"), 6).alias(
                "type_token_ratio"
            ),
        )
    )


def js_divergence_by_group(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Jensen–Shannon divergence of each group's token distribution
    from the WHOLE-corpus distribution — the domain-similarity score
    (0 = indistinguishable from the mix, ln 2 = disjoint vocabulary).
    Unlike KL it needs no epsilon smoothing: the mixture
    m = (p + q) / 2 is nonzero wherever either side is, and absent
    tokens contribute their one-sided ½·p·ln(p/m) = ½·p·ln 2 term.

    Plan: one explode → (group, token) counts; corpus marginals
    re-aggregate that table; the JS sum runs per group over the
    reduced counts. Every probability is an exact-integer ratio, so
    cross-engine agreement is at double precision under the 6 dp
    rounding.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.lower(text_col), " ")).alias("tok"),
    )
    # §20 pin: c_gt feeds the token marginal, the grand total AND the
    # probability join — the corpus explode+agg must run once
    c_gt = (
        toks.groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("_cg"))
        .transform(pin)
    )
    c_t = c_gt.groupBy("tok").agg(F.sum("_cg").alias("_ct"))
    from pyspark.sql import Window

    n_g = F.sum("_cg").over(Window.partitionBy("grp"))
    joined = c_gt.join(c_t, "tok").crossJoin(
        F.broadcast(c_gt.agg(F.sum("_cg").alias("_n")))  # 1-row stats
    )
    # materialize p/q before the final agg — a window expression can't
    # live inside an aggregate
    probs = joined.select(
        "grp",
        (F.col("_cg") / n_g).alias("_p"),
        (F.col("_ct") / F.col("_n")).alias("_q"),
    )
    p, q = F.col("_p"), F.col("_q")
    m = (p + q) / 2
    # the q-side sum over tokens ABSENT from the group needs the full
    # corpus term ½·q·ln(q/(q/2)) = ½·q·ln 2 minus the present-token
    # corrections — expressed as: ½ Σ_present q·ln(q/m) + ½·ln2·(1−Q)
    # where Q = Σ_present q
    term = (
        F.lit(0.5) * p * F.log(p / m)
        + F.lit(0.5) * q * F.log(q / m)
    )
    import math

    return (
        probs.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.round(
                F.sum(term)
                + F.lit(0.5 * math.log(2.0))
                * (F.lit(1.0) - F.sum(q)),
                6,
            ).alias("js_divergence")
        )
    )
