"""X4 — text analysis for large-scale training-data pipelines
(SURVEY.md §2.8): language ID, quality scoring, token counting, document
fingerprinting.  All pure Catalyst expressions — no Python touches row data,
so the whole stage stays in whole-stage codegen.

These generalize the reference's text-adjacent surface (the review text
column and lexicon-ish sentiment fields, ``/root/reference/summarizer.py:47``)
into the operators a 100 TB corpus pipeline needs.

Scale notes:
* everything here is embarrassingly parallel per-row projection work — no
  shuffle at all until a downstream aggregate;
* hashes are md5 (engine-portable for the oracle); xxhash64 would be
  ~3x cheaper but is Spark-private, so it fits only where parity with
  external engines stops mattering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persisted_intermediate
from .partitioning import ensure_min_parallelism

__all__ = [
    "tokens",
    "token_stats",
    "bigram_pmi",
    "quality_score",
    "gopher_rules",
    "language_id",
    "fingerprint",
    "tfidf_top_terms",
    "vocab_stats",
    "lexicon_sentiment",
    "pii_scrub",
    "EMAIL_RE",
    "PHONE_RE",
    "LANG_PROFILES",
    "DEFAULT_LEXICON",
]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the corpus is space-separated)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish piece count.

    The piece regex splits runs of letters, runs of digits, and individual
    other symbols — a crude stand-in for byte-pair tokenizer behavior whose
    count correlates with real token counts well enough for budgeting.
    """
    # Scoreable text only: NULL text has no tokens, and Spark's
    # size(split(NULL)) = -1 silently poisons downstream arithmetic
    # (null-injection audit, round 6).
    df = df.filter(F.col(text_col).isNotNull())
    toks = tokens(text_col)
    pieces = F.regexp_extract_all(
        F.col(text_col), F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0
    )
    return df.withColumns(
        {
            "n_tokens": F.size(toks).cast("long"),
            "n_pieces": F.size(pieces).cast("long"),
            "n_chars_obs": F.length(F.col(text_col)).cast("long"),
            "avg_token_len": (
                F.length(F.regexp_replace(F.col(text_col), " ", ""))
                / F.greatest(F.size(toks), F.lit(1))
            ),
        }
    )


# Tiny function-word profiles for the language-ID heuristic.  Order matters:
# ties resolve to the earlier language (deterministic).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "es": ["el", "la", "de", "y", "que", "los"],
    "de": ["der", "die", "das", "und", "zu", "ist"],
}

_STOPWORDS = LANG_PROFILES["en"]


def _profile_hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def language_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Language ID: function-word profile scoring (n-gram-heuristic family).

    Counts hits against per-language function-word lists and takes the
    argmax with a fixed tie-break (profile declaration order wins ties).
    The argmax is an ``array_sort`` over (-score, order, lang) structs —
    struct comparison is field-by-field, so the first element is the
    highest score with deterministic tie-break for ANY number of
    profiles (the r1 version hand-indexed exactly three languages).
    O(tokens x profiles) per row, no shuffle; real deployments swap in
    larger profiles or char n-gram models — the dataflow shape is
    identical.
    """
    # Scoreable text only: NULL text has no tokens, and Spark's
    # size(split(NULL)) = -1 silently poisons downstream arithmetic
    # (null-injection audit, round 6).
    df = df.filter(F.col(text_col).isNotNull())
    profiles = profiles if profiles is not None else LANG_PROFILES
    toks = tokens(text_col)
    scored = df.withColumns(
        {f"score_{lang}": _profile_hits(toks, words) for lang, words in profiles.items()}
    )
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-F.col(f"score_{lang}")).alias("neg_score"),
                    F.lit(i).alias("order"),
                    F.lit(lang).alias("lang"),
                )
                for i, lang in enumerate(profiles)
            ]
        )
    )
    return scored.withColumn("predicted_lang", F.element_at(ranked, 1)["lang"])


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring from length / punctuation / stopword ratios.

    score = 0.4 * min(1, n_tokens/100)        (length credit)
          + 0.3 * (1 - |stopword_ratio - 0.4|) (natural function-word rate)
          + 0.3 * (1 - punct_ratio)            (symbol-noise penalty)

    All double arithmetic with a fixed evaluation order, so the score is
    bit-reproducible across engines and partitionings.
    """
    # Scoreable text only: NULL text has no tokens, and Spark's
    # size(split(NULL)) = -1 silently poisons downstream arithmetic
    # (null-injection audit, round 6).
    df = df.filter(F.col(text_col).isNotNull())
    c = F.col(text_col)
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    stop_hits = _profile_hits(toks, _STOPWORDS)
    alpha_sp = F.length(F.regexp_replace(c, "[^a-z ]", ""))
    out = df.withColumns(
        {
            "n_tokens": n_tokens.cast("long"),
            "stopword_ratio": stop_hits / F.greatest(n_tokens, F.lit(1)).cast("double"),
            "punct_ratio": (F.length(c) - alpha_sp) / F.greatest(F.length(c), F.lit(1)).cast("double"),
        }
    )
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), F.col("n_tokens") / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - F.abs(F.col("stopword_ratio") - F.lit(0.4)))
        + F.lit(0.3) * (F.lit(1.0) - F.col("punct_ratio"))
    )
    return out.withColumn("quality_score", score)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 40,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 8.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher/MassiveText-style rule-based quality filter (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): per-document boolean rule flags plus the
    conjunctive ``keep`` decision a curation pipeline actually branches on.

    Rules (each its own column, so rejection reasons are auditable — the
    per-rule pass rates are one partial-aggregatable groupBy away):

    * ``f_word_count``     — token count within [min_tokens, max_tokens];
    * ``f_mean_word_len``  — mean token length within bounds;
    * ``f_symbol_ratio``   — fraction of tokens that contain NO
      alphanumeric character (pure-symbol tokens) at most
      ``max_symbol_ratio``;
    * ``f_alpha_ratio``    — fraction of tokens containing at least one
      alphabetic character at least ``min_alpha_ratio``;
    * ``f_stopwords``      — at least ``min_stop_hits`` DISTINCT
      function words present (Gopher's "2 of a small stop list" rule).

    Map-only Catalyst expressions per row — no shuffle, no Python; at
    100 TB this fuses into the scan alongside every other X4 projection.
    """
    # Scoreable text only: NULL text has no tokens, and Spark's
    # size(split(NULL)) = -1 silently poisons downstream arithmetic
    # (null-injection audit, round 6).
    df = df.filter(F.col(text_col).isNotNull())
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    mean_len = F.length(F.regexp_replace(F.col(text_col), " ", "")) / F.greatest(
        n_tokens, F.lit(1)
    ).cast("double")
    n_symbol = F.size(F.filter(toks, lambda t: ~t.rlike("[a-zA-Z0-9]")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    stop_distinct = F.size(
        F.array_distinct(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    )
    denom = F.greatest(n_tokens, F.lit(1)).cast("double")
    out = df.withColumns(
        {
            "n_tokens": n_tokens.cast("long"),
            "f_word_count": (n_tokens >= min_tokens) & (n_tokens <= max_tokens),
            "f_mean_word_len": (mean_len >= min_mean_token_len)
            & (mean_len <= max_mean_token_len),
            "f_symbol_ratio": (n_symbol / denom) <= max_symbol_ratio,
            "f_alpha_ratio": (n_alpha / denom) >= min_alpha_ratio,
            "f_stopwords": stop_distinct >= min_stop_hits,
        }
    )
    keep = (
        F.col("f_word_count")
        & F.col("f_mean_word_len")
        & F.col("f_symbol_ratio")
        & F.col("f_alpha_ratio")
        & F.col("f_stopwords")
    )
    return out.withColumn("keep", keep)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
) -> DataFrame:
    """Per-document top-k terms by a tf-idf-style score.

    score = tf * N / df — the classic shape with the log dropped so the
    arithmetic stays rational over exact integers (one double division at
    the end) and the score is bit-identical in every engine.  Rankings can
    differ from log-idf where tf and df trade off (log-idf zeroes
    corpus-wide terms; N/df only down-weights them) — swap the score
    expression for ``tf * log(N/df)`` when that behavior matters more than
    cross-engine exactness.  Ties break on the token string.

    Dataflow: explode -> (doc, token) count [shuffle 1, partial-agg] ->
    doc-frequency join on token [shuffle 2] -> per-doc top-k window
    [shuffle 3, on doc id].  At corpus scale the doc-frequency table is
    vocabulary-sized (≪ corpus); AQE picks a broadcast when it fits.
    """
    tok = ensure_min_parallelism(df, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(docfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "token", "tf", "df", "score", "rank")
    )


def vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 100,
) -> DataFrame:
    """Corpus vocabulary: per-token total occurrences + document frequency,
    top-k by (count desc, token).  The global ranking window runs over the
    aggregated vocabulary (distinct tokens, ≪ corpus rows) — the corpus
    itself is only touched by the partial-aggregatable groupBy.
    """
    tok = ensure_min_parallelism(df, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_distinct(F.col("doc_id")).alias("n_docs"),
    )
    w = Window.orderBy(F.desc("n_total"), F.asc("token"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("token", "n_total", "n_docs", "rank")
    )


# Tiny signed lexicon for sentiment scoring; real deployments broadcast a
# table of thousands of terms — the dataflow (broadcast join) is identical.
DEFAULT_LEXICON: dict[str, float] = {
    "fast": 1.0,
    "big": 0.5,
    "small": -0.5,
    "slow": -1.0,
}


def lexicon_sentiment(
    df: DataFrame,
    lexicon: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexicon-based sentiment: mean signed weight over all tokens.

    The engine-side realization of the reference's precomputed ``sentiment``
    column (``/root/reference/summarizer.py:47`` — arrives scored in the
    CSV): explode tokens, broadcast-join the weight lexicon (the lexicon is
    dictionary-sized, so the corpus side never shuffles for the join), and
    aggregate per document: hit count + sum(weight)/n_tokens in exact
    decimal.  Unmatched tokens contribute 0 (left join + coalesce).
    """
    lex_rows = sorted((lexicon or DEFAULT_LEXICON).items())
    lex = df.sparkSession.createDataFrame(lex_rows, "token string, weight double")
    tok = ensure_min_parallelism(df, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    scored = tok.join(F.broadcast(lex), "token", "left")
    w = F.coalesce(F.col("weight"), F.lit(0.0))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.col("weight")).alias("n_hits"),
        (
            F.sum(w.cast("decimal(28,10)")).cast("string").cast("double")
            / F.count(F.lit(1))
        ).alias("lexicon_sentiment"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", shingle_len: int = 5) -> DataFrame:
    """Document fingerprinting: an exact content digest plus a
    winnowing-style shingle fingerprint (the minimum hash over all
    ``shingle_len``-token shingles — stable under small appends, unlike the
    exact digest).
    """
    from ..functions import word_shingles

    c = F.col(text_col)
    sh = word_shingles(c, shingle_len)
    return df.withColumns(
        {
            "doc_md5": F.md5(c),
            "shingle_fp": F.array_min(F.transform(sh, F.md5)),
        }
    )


# Engine-portable PII patterns (plain character classes — no lookarounds,
# identical semantics in Java regex and RE2, verified against DuckDB).
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() .-]{7,}[0-9]"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """X4 — PII redaction: emails and phone-like digit runs replaced by
    typed placeholders, with per-document redaction counts.

    The mandatory first pass of any training-data pipeline.  Pure
    ``regexp_replace``/``regexp_count`` projections — no shuffle, no UDF,
    scales as a map-only stage and composes with partition pruning.
    Counts are kept alongside the scrubbed text so downstream filters can
    drop documents that are mostly PII (address books, dumps) instead of
    training on placeholder soup.
    """
    c = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.withColumns(
        {
            "scrubbed": scrubbed,
            "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)).cast("long"),
            "n_phones": F.regexp_count(c, F.lit(PHONE_RE)).cast("long"),
        }
    )


def repetition_score(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """X4 — intra-document repetition: the fraction of duplicate word
    n-grams (1 - distinct/total).  High values mark boilerplate, keyboard
    mash, and degenerate generations — one of the standard rule-based
    quality filters in large-corpus pipelines (the Gopher/MassiveText
    family of repetition rules).  Pure per-row array expressions: no
    shuffle, no UDF; short texts (< n tokens) score 0.
    """
    from ..functions import word_shingles

    sh = word_shingles(F.col(text_col), n)
    total = F.size(sh).cast("long")
    distinct = F.size(F.array_distinct(sh)).cast("long")
    return df.withColumns(
        {
            "n_shingles": total,
            "n_distinct_shingles": distinct,
            "dup_ratio": F.when(
                total > 0, F.lit(1.0) - distinct / total
            ).otherwise(F.lit(0.0)),
        }
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X4 — overlapping token-window chunking: split each document into
    ``chunk_tokens``-token windows advancing by ``chunk_tokens - overlap``
    — the pass that precedes embedding in retrieval/embedding pipelines
    (context windows are bounded; overlap keeps boundary sentences
    retrievable from both sides).

    Pure per-row array expressions: token split once, window starts via
    ``sequence`` with stride, one ``explode`` — a map-only row expansion
    of ~tokens/stride x, no shuffle, no UDF.  The final (possibly short)
    window is kept; every document yields at least one chunk.

    Returns (id, chunk_id, start_token, n_chunk_tokens, chunk_text).
    """
    # Scoreable text only: NULL text has no tokens, and Spark's
    # size(split(NULL)) = -1 silently poisons downstream arithmetic
    # (null-injection audit, round 6).
    df = df.filter(F.col(text_col).isNotNull())
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("long").alias("chunk_id"),
            s.cast("long").alias("start_token"),
            F.least(F.lit(chunk_tokens), n - s).cast("long").alias("n_chunk_tokens"),
            F.array_join(F.slice(toks, s + 1, chunk_tokens), " ").alias("chunk_text"),
        ),
    )
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, "c.chunk_id", "c.start_token", "c.n_chunk_tokens", "c.chunk_text"
    )


def contamination_hits(
    df: DataFrame,
    benchmark_phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """X2/X4 — benchmark contamination check: per document, how many of
    its distinct word n-grams appear in a benchmark phrase set.  The
    decontamination pass every training pipeline runs before evaluation
    claims mean anything: documents sharing n-grams with held-out
    benchmarks are flagged (and usually dropped).

    Dataflow: explode distinct doc shingles once, broadcast-join the
    benchmark shingle set (benchmark corpora are MB-scale vs the TB
    corpus, so the corpus side never shuffles for the join), count hits
    per document, left-join back so clean documents report 0.  Returns
    (id, n_hits, contaminated).
    """
    from ..operators.dedup import shingle_table

    spark = df.sparkSession
    bench = spark.createDataFrame(
        [(p,) for p in sorted(benchmark_phrases)], "sh string"
    )
    sh = shingle_table(df, text_col, id_col, n)
    hits = (
        sh.join(F.broadcast(bench), "sh")
        .groupBy(F.col("sid").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def bigram_pmi(
    df: DataFrame | None = None,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
    counts: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Collocation mining: top-k adjacent word pairs by pointwise mutual
    information, scored as the probability RATIO p(w1,w2)/(p(w1)·p(w2))
    rather than its log — the ranking is identical (log is monotone) and
    the ratio is a fixed-shape expression over exact BIGINT counts, so the
    score is bit-identical in every engine (``ln``/``log2`` library calls
    are NOT guaranteed ulp-identical across engines and would break
    hash-gated verification).

    Plan shape: one explode for unigram counts, one explode for bigram
    counts (adjacent pairs via an indexed ``transform`` over the token
    array — pure Catalyst, no self-join of positions), then the bigram
    table joins the unigram counts twice.  Corpus totals ride in via a
    1-row broadcast cross join (the only hard ``F.broadcast`` left — it
    is literally one row).  ``min_count`` prunes rare pairs BEFORE the
    joins — the same df-pruning idea as ``ngram_jaccard_pruned``.

    Broadcast size-guard (r6 verdict): the unigram table is
    vocab-bounded, but on a raw 100 TB crawl the token vocabulary
    (typos, hashes, junk) can reach 1e8-1e9 rows — past driver/broadcast
    limits, so a hard ``F.broadcast(u1)`` would OOM rather than degrade.
    Instead u1/u2 are first SEMI-JOIN-pruned to the words that actually
    appear as endpoints of a ``min_count``-surviving bigram (orders
    smaller than the raw vocabulary — junk tokens rarely repeat 5x in
    the same adjacent pair), and the count joins carry no broadcast
    hint: AQE picks broadcast-hash from the MEASURED post-prune size and
    falls back to a shuffle join past ``autoBroadcastJoinThreshold``.

    Caching contract: persists two vocab-bounded count tables and never
    unpersists them (their multiple consumers race past a lazy cache via
    async broadcast threads if re-derived).  One-shot callers (bench,
    verify sweeps) own cleanup via ``spark.catalog.clearCache()``;
    long-lived sessions composing operators should do the same between
    pipelines.

    Returns (w1, w2, n_pair, n_w1, n_w2, pmi_ratio) for the top_k pairs
    by (pmi_ratio DESC, w1, w2) — the tie-break makes top-k deterministic.
    """
    # Both count tables are vocabulary-bounded (Heaps' law) but their
    # lineage is a corpus explode; uni has three consumers (totals, u1,
    # u2) and bi_all two (bi, the pre-filter total) — persist the small
    # aggregates so the corpus is exploded once per table, not per use.
    # ``counts`` lets a caller hand in precomputed (uni, bi_all) tables —
    # e.g. read from a fingerprinted parquet stage — in which case no
    # derivation happens here and nothing is persisted (parquet-backed
    # inputs re-scan cheaply; the persist is for corpus-explode lineage).
    # ``df`` and ``counts`` are MUTUALLY EXCLUSIVE (r7 advice): the counts
    # must have been derived from the same corpus with the same
    # tokenization, and nothing here can verify that, so the API refuses
    # to let a caller express the mismatched pair — stagers key the counts
    # on a corpus fingerprint instead (queries_text._staged_pmi_counts).
    if (df is None) == (counts is None):
        raise ValueError(
            "bigram_pmi takes exactly one of df= (derive counts here) or "
            "counts= (precomputed (uni, bi_all) tables, fingerprint-keyed "
            "to their corpus by the caller)"
        )
    if counts is not None:
        uni, bi_all = counts
    else:
        uni = persisted_intermediate(
            unigram_counts(df, text_col), bound="unigram vocab rows"
        )
        bi_all = persisted_intermediate(
            bigram_counts(df, text_col), bound="observed-bigram vocab rows"
        )
    bi = bi_all.filter(F.col("n_pair") >= min_count)
    # n_pairs is the PRE-filter bigram total: p(w1,w2) = n_pair / all
    # observed bigrams, not / the surviving heavy ones.
    totals = uni.agg(
        F.sum("n_w").alias("n_tokens"),
    ).crossJoin(bi_all.agg(F.sum("n_pair").alias("n_pairs")))
    # Prune the (possibly huge) raw vocabulary to surviving-pair
    # endpoints before the count joins: an inner join on w1/w2 discards
    # non-endpoint words anyway, so the semi-join changes nothing at this
    # scale and bounds the broadcast candidate at 100 TB.
    endpoints = (
        bi.select(F.col("w1").alias("w"))
        .union(bi.select(F.col("w2").alias("w")))
        .distinct()
    )
    uni_pruned = uni.join(endpoints, "w", "left_semi")
    u1 = uni_pruned.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni_pruned.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    scored = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            (
                (
                    F.col("n_pair").cast("double")
                    * F.col("n_tokens").cast("double")
                    * F.col("n_tokens").cast("double")
                )
                / (
                    F.col("n_pairs").cast("double")
                    * F.col("n_w1").cast("double")
                    * F.col("n_w2").cast("double")
                )
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(
        F.col("pmi_ratio").desc(), "w1", "w2"
    ).limit(top_k)


def adjacent_pairs(
    df: DataFrame, text_col: str = "text", carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One row per adjacent token pair ``(w1, w2)``, optionally carrying
    ``carry_cols`` (e.g. the document id) alongside.

    Adjacent pairs via an indexed ``transform`` over the token array (pure
    Column API — no SQL-string interpolation of text_col, no positional
    self-join): position i (0-based) in the size-1 slice pairs token i
    with token i+1, fetched 0-based with ``F.get``.  Shared by
    :func:`bigram_pmi` (collocations), :func:`textrank_keywords` (the
    word-adjacency graph) and :func:`bigram_surprisal` (the LM-proxy
    scorer), so all three score the identical pair extraction.
    """
    toks = tokens(text_col)
    pairs_col = F.transform(
        F.slice(toks, F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.struct(t.alias("w1"), F.get(toks, i + 1).alias("w2")),
    )
    return (
        df.select(*carry_cols, F.explode(pairs_col).alias("p"))
        .select(*carry_cols, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )


def bigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide adjacent-pair counts ``(w1, w2, n_pair)`` — the
    aggregated view of :func:`adjacent_pairs`."""
    return adjacent_pairs(df, text_col).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    )


def unigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide word counts ``(w, n_w)`` over the whitespace
    tokenization (empty tokens dropped) — the single definition both
    :func:`bigram_pmi`'s internal derivation and the staged-index builder
    share, so the two can't drift."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )


def bigram_surprisal(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean bigram surprisal — a language-model-proxy quality
    score: how "surprising" each document's word transitions are under the
    corpus's own bigram statistics.  High mean bits ≈ unnatural/garbled
    text; low ≈ repetitive boilerplate — the same signal a perplexity
    filter thresholds, without training an LM.

    Surprisal of a bigram (w1, w2) is the INTEGER bit count
    ``bit_length(ow(w1) div n_pair(w1,w2)) - 1`` = floor(log2) of the
    inverse conditional frequency — computed via ``length(bin(q)) - 1``
    on the integer quotient, NEVER a ``log()`` library call: libm/JVM
    log implementations differ in the last ulp and a floor() on top
    turns that into an off-by-one-bit that breaks cross-engine hash
    parity.  String-length-of-binary is exact everywhere.

    Returns (doc_id, n_bigrams, total_bits, mean_bits); documents with
    no bigram (empty / single-token) have no defined score and are
    absent.  Scale shape: one explode for pairs, one corpus-level count
    aggregate (vocab²-bounded, Heaps' law), a join of doc pairs to the
    stats table (shuffle on (w1, w2)), one per-doc aggregate.

    Caching contract: persists the vocab²-bounded pair-count table and
    never unpersists it; one-shot callers own cleanup via
    ``spark.catalog.clearCache()`` (bench and the verify sweeps do),
    long-lived sessions should clear between pipelines.
    """
    pairs = adjacent_pairs(df, text_col, (id_col,))
    # Two consumers (outw, the stats join) would each re-run the corpus
    # pair explode; `pairs` itself is corpus-sized — the wrong seam.
    corpus = persisted_intermediate(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair")),
        bound="vocab^2 pair counts",
    )
    outw = corpus.groupBy("w1").agg(F.sum("n_pair").cast("long").alias("ow"))
    stats = corpus.join(outw, "w1").select(
        "w1",
        "w2",
        (F.length(F.bin(F.expr("ow div n_pair"))) - 1).cast("long").alias("bits"),
    )
    return (
        pairs.join(stats, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("bits").cast("long").alias("total_bits"),
        )
        .withColumn("mean_bits", F.col("total_bits") / F.col("n_bigrams"))
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    iters: int = 3,
    top_k: int = 20,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """TextRank keyword extraction: PageRank (damping 0.85, ``iters``
    fixed iterations) over the corpus word-adjacency graph, in **fixed-
    point integer arithmetic** so every rank is an exact BIGINT and the
    result hash-matches any engine (floating-point PageRank is order-of-
    addition-dependent and ulp-divergent across engines; ``17/20`` IS
    0.85 exactly).

    Per iteration: r'(w) = (3·scale) div (20·N)  +  Σ over in-edges u→w
    of (r(u)·17·weight(u,w)) div (20·out_weight(u)) — integral ``div``
    truncation in both engines (all operands positive, so truncation ==
    floor).  Dangling mass (last-token-only words have no out-edges) is
    dropped, not redistributed — ranks are a keyword ORDERING, not a
    probability distribution, and the simplification keeps the unrolled
    SQL oracle one join shorter per iteration.

    Scale shape: a fixed, small iteration count of vocabulary-sized
    shuffle joins (edges ⋈ ranks on word) + one aggregate each — the
    same iterative-dataflow pattern as ``connected_components`` but with
    NO driver-side convergence probe (the trip count is static, the plan
    is fully declarative).  Vocabulary grows ~sublinearly in corpus size
    (Heaps' law), so at 100 TB the rank table stays millions of rows
    while the one corpus-sized stage (the bigram explode+count) is a
    single map-side-combined aggregation.
    """
    edges = bigram_counts(df, text_col)
    outw = edges.groupBy("w1").agg(F.sum("n_pair").cast("long").alias("ow"))
    nodes = (
        edges.select(F.col("w1").alias("w"))
        .unionAll(edges.select(F.col("w2").alias("w")))
        .distinct()
    )
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    # Teleport base and the initial uniform rank, both exact integer div.
    tele = n_df.select(
        F.expr(f"CAST({3 * scale} div (20 * n) AS BIGINT)").alias("base"),
        F.expr(f"CAST({scale} div n AS BIGINT)").alias("r0"),
    )
    ranks = nodes.crossJoin(F.broadcast(tele)).select(
        "w", F.col("r0").alias("r")
    )
    for _ in range(iters):
        contrib = (
            edges.join(ranks.withColumnRenamed("w", "w1"), "w1")
            .join(outw, "w1")
            .groupBy("w2")
            .agg(
                F.sum(F.expr("(r * 17 * n_pair) div (20 * ow)"))
                .cast("long")
                .alias("contrib")
            )
        )
        ranks = (
            nodes.crossJoin(F.broadcast(tele))
            .join(contrib.withColumnRenamed("w2", "w"), "w", "left")
            .select(
                "w",
                (F.col("base") + F.coalesce(F.col("contrib"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
        )
    return (
        ranks.select("w", F.col("r").alias("rank_fp"))
        .orderBy(F.col("rank_fp").desc(), "w")
        .limit(top_k)
    )
