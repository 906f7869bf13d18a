"""Text analysis for training-data curation: language-ID heuristic,
quality scoring, token counting, fingerprinting.

All pure built-in expression work (regexp_count / regexp_replace /
split) — stays in whole-stage codegen; per-doc cost is O(len).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.functions import (
    content_fingerprint,
    dec_sum,
    token_count,
    tokens,
)
from aws_data_pipeline_ads_spark.session import local_frame

# Tiny stopword inventories for the n-gram/stopword-hit language heuristic.
LANG_MARKERS = {
    "en": r"\b(the|a|of|and|is|to|in)\b",
    "de": r"\b(der|die|das|und|ist|ein)\b",
    "es": r"\b(el|la|los|de|que|y)\b",
    "fr": r"\b(le|la|les|des|et|est)\b",
}

EN_STOPWORDS_RE = r"\b(the|a|of|and|is|to|in|it|that|for)\b"
PUNCT_RE = r"[^a-zA-Z0-9\s]"


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-hit language detection: argmax of marker hits, 'unk' if none.

    A real pipeline would use character n-gram profiles; the operator
    shape (per-row regexp scoring, no shuffle) is identical.
    """
    hits = {
        lang: F.regexp_count(F.col("text"), F.lit(pat)).cast("long")
        for lang, pat in LANG_MARKERS.items()
    }
    best = F.lit("unk")
    best_n = F.lit(0).cast("long")
    # Deterministic tie-break: first lang in insertion order wins (strict >).
    for lang, h in reversed(list(hits.items())):
        best = F.when(h > best_n, F.lit(lang)).otherwise(best)
        best_n = F.when(h > best_n, h).otherwise(best_n)
    cols = [hits[lang].alias(f"hits_{lang}") for lang in LANG_MARKERS]
    return documents.select("doc_id", "lang", *cols, best.alias("detected_lang"))


def quality_stats(documents: DataFrame) -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality signals.

    Ratios divide exact ints in double — engine-invariant. `quality_ok`
    is the keep/drop gate a curation pipeline would filter on.

    Empty documents score punct_ratio NULL (0/0 is undefined; under
    Spark 4's default ANSI mode an unguarded division ERRORS the whole
    job on the first empty doc — real corpora have them) and fail the
    gate via the n_chars bound. n_toks is never 0 (split of empty text
    yields one empty token), so stopword_ratio needs no guard.
    """
    n_chars = F.length("text").cast("long")
    n_alnum = F.length(F.regexp_replace(F.col("text"), PUNCT_RE, "")).cast("long")
    n_toks = token_count("text")
    n_stop = F.regexp_count(F.col("text"), F.lit(EN_STOPWORDS_RE)).cast("long")
    punct_ratio = F.when(
        n_chars > 0, (n_chars - n_alnum).cast("double") / n_chars
    )
    stop_ratio = n_stop.cast("double") / n_toks
    # Emit ratios rounded to 6 decimals (hash-canonicalization safety,
    # SURVEY §7 risk 1); the keep/drop gate still compares unrounded.
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_toks.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        ((n_chars >= 20) & (n_toks >= 5) & (punct_ratio < 0.3)).alias("quality_ok"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace token count per document."""
    return documents.select("doc_id", token_count("text").alias("n_tokens"))


def fingerprints(documents: DataFrame) -> DataFrame:
    """Deterministic content fingerprint (md5 over normalized text)."""
    return documents.select("doc_id", content_fingerprint("text").alias("fingerprint"))


def curate(documents: DataFrame) -> DataFrame:
    """End-to-end curation slice: quality gate → exact near-dup removal
    (min doc_id per content fingerprint wins) → per-lang corpus stats.

    The composition a training-data pipeline runs before tokenization.
    Two shuffles total: the fingerprint groupBy and the final lang
    groupBy (the doc_id join is a broadcast at dim-like selectivity, or
    AQE's choice at scale).
    """
    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    n_chars = F.length("text").cast("long")
    n_alnum = F.length(F.regexp_replace(F.col("text"), PUNCT_RE, "")).cast("long")
    # NULL ratio for empty docs (ANSI divide-by-zero guard; such docs
    # fail the n_chars gate anyway — false AND null = false).
    punct_ratio = F.when(
        n_chars > 0, (n_chars - n_alnum).cast("double") / n_chars
    )
    # One projection computes every text-derived value, then `text`
    # drops out — the shuffles downstream move (id, lang, count, 16-byte
    # fp), never document bodies, and nothing is tokenized twice.
    # Persisted: the projection feeds BOTH the canonical-doc election
    # and the join's left side, and Spark materializes no shared
    # subplans (measured: 2 scans, the regexp/md5 work run twice).
    # Slim rows (no text), MEMORY_AND_DISK spills on oversized corpora.
    ok = persist_tracked(documents.select(
        "doc_id",
        "lang",
        token_count("text").alias("n_toks"),
        content_fingerprint("text").alias("fp"),
        n_chars.alias("n_chars"),
        punct_ratio.alias("punct_ratio"),
    ).filter(
        (F.col("n_chars") >= 20) & (F.col("n_toks") >= 5)
        & (F.col("punct_ratio") < 0.3)
    ))
    canon = ok.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    return (
        ok.join(canon, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token fraction and
    duplicate-bigram fraction per document, plus a keep/drop gate.

    Boilerplate, spam, and templated pages repeat tokens/n-grams far
    more than prose; curation pipelines (Gopher, Dolma, RefinedWeb)
    filter on exactly these ratios. Everything here is higher-order
    array expressions — array_distinct/transform/size — so the whole
    operator is one codegen'd projection: zero shuffles, per-doc cost
    O(tokens), and `text` never moves past the scan.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    # sequence(0, n-2) would generate a DESCENDING range for n < 2 —
    # guard to an empty bigram list for single-token docs.
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    nb = F.size(bigrams).cast("long")
    nbd = F.size(F.array_distinct(bigrams)).cast("long")
    dup_ratio = (n - nd).cast("double") / n
    bigram_dup = F.when(nb > 0, (nb - nbd).cast("double") / nb).otherwise(F.lit(0.0))
    # Ratios rounded to 6 decimals on emit (hash-canonicalization
    # safety, SURVEY §7 risk 1); the gate compares unrounded.
    return documents.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        F.round(dup_ratio, 6).alias("dup_ratio"),
        F.round(bigram_dup, 6).alias("bigram_dup_ratio"),
        ((dup_ratio <= 0.6) & (bigram_dup <= 0.4)).alias("repetition_ok"),
    )


# PII patterns a curation pipeline scrubs before training (the Dolma /
# FineWeb releases document exactly this email/phone/IP regex pass).
# Kept deliberately simple and anchored — the operator shape (chained
# regexp_replace, zero shuffle, one codegen'd projection) is the point.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def redact_pii(documents: DataFrame, text_col: str = "text",
               keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Replace emails/phones/IPs with typed placeholder tokens and count
    the redactions per document.

    Chained regexp_replace — Spark's is global by default (DuckDB needs
    the 'g' flag, handled in the oracle). Counting BEFORE replacing
    keeps the counts exact even when patterns could overlap after
    substitution. `keep_cols` ride along so compositions don't re-scan
    the corpus just to re-join passthrough columns (prepare_corpus).
    """
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long")
    n_phone = F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long")
    n_ip = F.regexp_count(t, F.lit(PII_IP_RE)).cast("long")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE, "<PHONE>",
        ),
        PII_IP_RE, "<IP>",
    )
    return documents.select(
        "doc_id",
        *keep_cols,
        clean.alias("clean_text"),
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        n_ip.alias("n_ips"),
        (n_email + n_phone + n_ip > 0).alias("had_pii"),
    )


def corpus_stats(documents: DataFrame) -> DataFrame:
    """Per (lang, source) corpus statistics.

    Two representation pins keep the DuckDB oracle hash-identical:
    avg_chars is rounded to 6 decimals (a full-precision double's text
    form differs between hash-canonicalization paths, SURVEY §7 risk 1),
    and the ORACLE wraps its total_chars sum in CAST(... AS BIGINT) —
    DuckDB's SUM over BIGINT yields HUGEINT, which pandas widens to
    float64 ("123.0" vs this side's int64 "123"). The r2/r3 hash fail
    was the latter; rounding alone was necessary but not sufficient.
    """
    n_chars = F.length("text")
    return documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_chars.cast("long")).alias("total_chars"),
        F.round(
            F.sum(n_chars.cast("long")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_chars"),
    )


def bm25_terms(documents: DataFrame, top_k: int = 5,
               k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k BM25-scored terms per document, with a RATIONAL idf.

    Classic BM25 wraps idf in a log; log is strictly monotone, so
    dropping it changes no ranking — and unlike log (whose last-ulp
    rounding is libm-specific), the rational form uses only IEEE-exact
    +,*,/ on integer-derived doubles, making the scores bit-identical
    across engines (the oracle hash-matches, not just the ranks).

        idf   = (N - df + 0.5) / (df + 0.5)
        score = idf * (tf * (k1+1)) / (tf + k1 * (1 - b + b * dl/avgdl))

    Scale shape: tf is one map-side-combined groupBy on (doc_id, term);
    df is a groupBy + equi-join on term — NOT a window over a term
    partition, because term frequencies are Zipfian and the hot-term
    partition of a window cannot be split, while AQE's skew-join splits
    the oversized join partitions for free. dl rides as a window over
    the doc partition, whose exchange the final per-doc rank reuses;
    N/avgdl are a 1-row aggregate broadcast in. All shuffles move slim
    (id, term, counts) rows — text never shuffles.
    """
    from pyspark.sql import Window as W

    from aws_data_pipeline_ads_spark.functions import tokens

    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    # NULL text coalesces to '' BEFORE tokenizing: explode of a NULL
    # token array drops the row entirely, which would silently shrink
    # the countDistinct-derived n_docs (and shift every idf) on corpora
    # with NULL-text rows. split(trim('')) yields one empty token, so
    # every doc — including NULL/empty text — emits ≥ 1 tf row and
    # COUNT(DISTINCT doc_id) == COUNT(*) over documents holds
    # unconditionally (pinned by test_bm25_null_text_keeps_n_docs).
    toks = tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    # tf is persisted because it has THREE consumers — the df aggregate,
    # the join's left side, and the corpus-level (n_docs, total_toks)
    # aggregate — and Spark materializes no shared subplans (measured:
    # the tokenize→aggregate pipeline ran once per consumer). The cache
    # is the slim (doc_id, term, tf) vocabulary stream; MEMORY_AND_DISK
    # spills rather than fails when the vocabulary outgrows memory.
    tf = persist_tracked(
        documents.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # df join BEFORE the dl window: the final rank window also
    # partitions by doc_id, so planning dl last lets the rank reuse
    # dl's exchange (pinned in PLANS.md). df as a groupBy + join rather
    # than a window COUNT over the term partition: the join is
    # AQE-skew-splittable on Zipfian terms, a hot-term window is not.
    dfreq = tf.groupBy("term").agg(F.count("tf").cast("long").alias("df"))
    x = tf.join(dfreq, "term").select(
        "doc_id", "term", "tf", "df",
        F.sum("tf").over(W.partitionBy("doc_id")).cast("long").alias("dl"),
    )
    # Corpus stats from the cached tf, not a third scan+tokenize of the
    # documents: every doc emits ≥ 1 tf row (NULL text coalesces to ''
    # above, and split of empty text yields one empty token), so
    # COUNT(DISTINCT doc_id) == COUNT(*) over documents and
    # SUM(tf) == SUM(size(tokens)) — same integers, same doubles
    # downstream.
    g = tf.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("tf").cast("long").alias("total_toks"),
    )
    # Expression mirrors the oracle SQL token-for-token so every double
    # op applies in the same order: see q_bm25_terms.
    idf = (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    score = idf * (F.col("tf") * F.lit(k1 + 1)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    s = x.crossJoin(F.broadcast(g)).select(
        "doc_id", "term", "tf", "df", score.alias("score")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        s.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= top_k)
    )


N_TERM_BUCKETS = 64  # hash-bucket fan-out of the materialized vocabulary


def bm25_write(documents: DataFrame, path: str) -> None:
    """Materialize the BM25 vocabulary as a serving index — the
    lsh_write/ivf_write pattern applied to text retrieval.

    Layout:
      {path}/postings — (term, doc_id, tf, dl, df, tb) parquet,
        partitioned by tb = pmod(xxhash64(term), N_TERM_BUCKETS): a
        probe for a handful of query terms reads only its terms' bucket
        directories (file-level pruning), never the full vocabulary.
        Repartitioned on tb before the write so each bucket is one
        writer task's worth of files, not one file per input partition
        (the ivf_write small-files rule).
      {path}/stats — one row (n_docs, total_toks).

    Everything stored is an INTEGER (tf, dl, df, counts): all double
    math happens at query time in the same expression order as the
    inline bm25_terms, so served scores are bit-identical to inline
    scores and to the DuckDB oracle. Build cost is the inline query's
    tokenize+aggregate pipeline paid ONCE per corpus (a write-side job,
    like building any table); at 100 TB this is the difference between
    re-tokenizing the corpus per analysis run and a parquet scan.
    """
    from pyspark.sql import Window as W

    from aws_data_pipeline_ads_spark.functions import tokens
    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    toks = tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    tf = persist_tracked(
        documents.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("tf").cast("long").alias("df"))
    post = tf.join(dfreq, "term").select(
        "term", "doc_id", "tf", "df",
        F.sum("tf").over(W.partitionBy("doc_id")).cast("long").alias("dl"),
        F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).alias("tb"),
    )
    post.repartition("tb").write.mode("overwrite").partitionBy("tb").parquet(
        f"{path}/postings"
    )
    tf.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("tf").cast("long").alias("total_toks"),
    ).write.mode("overwrite").parquet(f"{path}/stats")
    tf.unpersist()


def _bm25_score(k1: float, b: float):
    """The shared score expression — identical token-for-token between
    the inline and served paths so both hash-match the same oracle."""
    idf = (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    return idf * (F.col("tf") * F.lit(k1 + 1)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )


def bm25_terms_served(spark, path: str, top_k: int = 5,
                      k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """bm25_terms answered from a bm25_write index: one parquet scan of
    the integer postings + the per-doc rank window — no tokenize, no tf
    groupBy, no df join at query time. Bit-identical to the inline path
    (same integers in, same expression order)."""
    from pyspark.sql import Window as W

    post = spark.read.parquet(f"{path}/postings")
    stats = spark.read.parquet(f"{path}/stats")
    s = post.crossJoin(F.broadcast(stats)).select(
        "doc_id", "term", "tf", "df", _bm25_score(k1, b).alias("score")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        s.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= top_k)
    )


def bm25_search(spark, path: str, query_terms: list[str], k: int = 10,
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Classic inverted-index retrieval over a bm25_write index: score
    every document against `query_terms`, return the top-k.

    The probe filters on BOTH tb (the terms' hash buckets — partition
    directories pruned at plan time, computed driver-side over a
    handful of strings) and term (row-group pushdown within the
    surviving buckets) — the scan reads only the query terms' postings,
    never the corpus vocabulary. Per-doc scores fold term scores
    through a DECIMAL(38,18) sum (order-invariant — double addition is
    not associative and Spark/DuckDB fold in different orders), then
    round to 6 decimals. Top-k is TakeOrderedAndProject over the tiny
    scored stream.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    buckets = _term_buckets(spark, query_terms)
    post = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("tb").isin(buckets) & F.col("term").isin(list(query_terms)))
    )
    stats = spark.read.parquet(f"{path}/stats")
    scored = post.crossJoin(F.broadcast(stats)).select(
        "doc_id", _bm25_score(k1, b).alias("s")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.round(
                F.sum(F.col("s").cast("decimal(38,18)")).cast("double"), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _term_buckets(spark, query_terms: list[str]) -> list[int]:
    """The query terms' tb values, computed by the SAME Spark xxhash64
    expression the writer used — a local job over len(query_terms) rows
    (bounded driver collect, the IVF-centroid pattern), so writer and
    prober can never drift on hash semantics."""
    rows = (
        local_frame(spark, [(t,) for t in query_terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).alias("tb"))
        .collect()
    )
    return sorted({r.tb for r in rows})


def top_ngrams(documents: DataFrame, k: int = 10) -> DataFrame:
    """Top-k most frequent bigrams per language — corpus-level n-gram
    frequency analysis (vocabulary drift, boilerplate discovery, BPE
    merge-candidate mining all start here).

    Scale shape: the (lang, ngram) count is map-side combined (partial
    aggregation folds each partition's counts before the exchange — the
    shuffle moves unique bigrams, not occurrences). The per-lang top-k
    is TWO-PHASE: a first row_number over (lang, salt-of-ngram) prunes
    each of 64 salted sub-partitions to its own top-k, then the final
    window ranks the ≤ 64·k survivors per lang. `lang` is a
    LOW-cardinality key — a single per-lang window would funnel every
    distinct bigram of a language through one task (unsplittable even
    by AQE); the salted phase bounds that task at 64·k rows. The salt
    never changes results: the global top-k of each lang is a subset of
    the union of salted top-ks.

    Bigrams are materialized below the explode in one pass per doc
    (same two-step projection rule as doc_shingle_sets).
    """
    from pyspark.sql import Window as W

    toked = documents.select(
        "lang", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("__toks")
    )
    t = F.col("__toks")
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i + 1), F.element_at(t, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        toked.select("lang", F.explode(bigrams).alias("ngram"))
        .groupBy("lang", "ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    order = [F.desc("n_occurrences"), F.asc("ngram")]
    salted = W.partitionBy("lang", F.pmod(F.xxhash64("ngram"), F.lit(64))) \
              .orderBy(*order)
    pruned = (
        counts.withColumn("__r1", F.row_number().over(salted))
        .filter(F.col("__r1") <= k)
        .drop("__r1")
    )
    w = W.partitionBy("lang").orderBy(*order)
    return (
        pruned.withColumn("ngram_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("ngram_rank") <= k)
    )


def length_outliers(documents: DataFrame, lo: float = 0.05,
                    hi: float = 0.95) -> DataFrame:
    """Per-language exact-quantile outlier flagging on document length.

    Curation pipelines trim the length tails per language (a 10-char
    'en' doc and a 200k-char one are both suspect, but thresholds differ
    by language). The per-lang p_lo/p_hi table is lang-cardinality —
    dim-sized — so it is aggregated (map-side combined) and BROADCAST
    back; the documents table itself never shuffles. Exact percentile
    (not approx) keeps the operator oracle-verifiable; swap in
    percentile_approx at 100 TB if the single-pass exactness matters
    less than memory.
    """
    bands = documents.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(lo)).alias("p_lo"),
        F.percentile("n_chars", F.lit(hi)).alias("p_hi"),
    )
    return documents.join(F.broadcast(bands), "lang").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"),
        "p_lo", "p_hi",
        ((F.col("n_chars") < F.col("p_lo"))
         | (F.col("n_chars") > F.col("p_hi"))).alias("is_outlier"),
    )


# GPT-2-style pre-tokenizer, simplified to the subset Java regex and RE2
# execute identically (no lookahead; both engines use leftmost-first
# alternation): contractions, space-prefixed letter runs, digit runs,
# punctuation runs, residual whitespace.
BPE_TOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+"
    r"| ?[0-9]+"
    r"| ?[^\sA-Za-z0-9]+"
    r"|\s+"
)


def bpe_token_counts(documents: DataFrame) -> DataFrame:
    """Per-doc token counts under the BPE-ish pre-tokenizer next to the
    whitespace count, plus fertility (BPE tokens per whitespace word) —
    the number LLM-data budgeting actually runs on. Zero shuffles; one
    codegen'd projection."""
    t = F.col("text")
    n_bpe = F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), F.lit(0))).cast("long")
    n_ws = token_count("text")
    return documents.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        (n_bpe.cast("double") / n_ws).alias("fertility"),
    )


def prepare_corpus(documents: DataFrame, sample_of_256: int = 128) -> DataFrame:
    """The full training-data prep pipeline as ONE declarative plan:

        PII scrub → quality gate → exact dedup (canonical per
        fingerprint) → deterministic 50% hash sample → per-lang shard
        stats

    Composes redact_pii, the curate-style gate, exact dedup, and the
    md5-bucket sampling gate (operators/sampling.py) — every stage is
    engine-deterministic, so the WHOLE pipeline hash-matches its oracle.
    Text-derived values are computed in one projection and text drops
    out before any shuffle (the curate rule); the sampling gate is a
    filter, not a shuffle.
    """
    from aws_data_pipeline_ads_spark.functions import content_fingerprint
    from aws_data_pipeline_ads_spark.operators.sampling import hash_bucket_sql

    cleaned = redact_pii(documents, keep_cols=("lang",))
    t = F.col("clean_text")
    n_chars = F.length(t).cast("long")
    n_alnum = F.length(F.regexp_replace(t, PUNCT_RE, "")).cast("long")
    # ANSI divide-by-zero guard for empty docs (see quality_stats)
    punct_ratio = F.when(
        n_chars > 0, (n_chars - n_alnum).cast("double") / n_chars
    )
    ok = cleaned.select(
        "doc_id", "lang", "had_pii",
        F.size(F.split(F.trim(t), r"\s+")).cast("long").alias("n_toks"),
        content_fingerprint(t).alias("fp"),
        n_chars.alias("n_chars"),
        punct_ratio.alias("punct_ratio"),
    ).filter(
        (F.col("n_chars") >= 20) & (F.col("n_toks") >= 5)
        & (F.col("punct_ratio") < 0.3)
    )
    canon = ok.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    sampled = ok.join(canon, "doc_id").filter(
        F.expr(hash_bucket_sql("CAST(doc_id AS STRING)")) < F.lit(sample_of_256)
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum(F.col("had_pii").cast("long")).cast("long").alias("n_had_pii"),
    )


def chunk_documents(documents: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16) -> DataFrame:
    """Split documents into overlapping fixed-token chunks — the context
    packing step between curation and tokenization (every pretraining
    pipeline ships one).

    chunks start every `chunk_tokens - overlap` tokens; a doc shorter
    than one chunk yields itself. All higher-order array expressions in
    one codegen'd projection — the only rows created are the chunks
    themselves (posexplode), no shuffle at all; chunk_id is
    deterministic (position order).
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toked = documents.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("__toks")
    )
    t = F.col("__toks")
    n = F.size(t)
    n_chunks = F.greatest(
        F.lit(1),
        F.expr(f"(size(__toks) - {overlap} + {stride - 1}) DIV {stride}"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(t, i * stride + 1, chunk_tokens), " "
        ),
    )
    out = toked.select(
        "doc_id", n.cast("long").alias("n_tokens"),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    )
    return out.select(
        "doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_tokens", "chunk_text",
        F.size(F.split(F.col("chunk_text"), r"\s+")).cast("long")
        .alias("chunk_tokens"),
    )


def filter_attrition(documents: DataFrame) -> DataFrame:
    """Curation observability: the classic filter-funnel report — how
    many documents survive each successive quality gate (length →
    punctuation → repetition → exact dedup), per the Dolma/RefinedWeb
    release-notes convention. The numbers are what a data lead reads
    before signing off a corpus build.

    ONE map-side-combined aggregate over one projection: each gate is a
    conditional sum, and the dedup survivor count is
    COUNT(DISTINCT CASE WHEN all-gates THEN fingerprint END) — no join,
    no second scan; the only exchange is the 1-row aggregate's.
    """
    n_chars = F.length("text").cast("long")
    n_alnum = F.length(F.regexp_replace(F.col("text"), PUNCT_RE, "")).cast("long")
    n_toks = token_count("text")
    punct_ratio = F.when(n_chars > 0, (n_chars - n_alnum).cast("double") / n_chars)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    dup_ratio = (n - nd).cast("double") / n
    q = documents.select(
        content_fingerprint("text").alias("fp"),
        ((n_chars >= 20) & (n_toks >= 5)).alias("g_len"),
        (punct_ratio < 0.3).alias("g_punct"),
        (dup_ratio <= 0.6).alias("g_rep"),
    ).select(
        "fp",
        F.col("g_len").alias("p1"),
        (F.col("g_len") & F.col("g_punct")).alias("p2"),
        (F.col("g_len") & F.col("g_punct") & F.col("g_rep")).alias("p3"),
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    return q.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        cnt("p1").alias("after_length"),
        cnt("p2").alias("after_punct"),
        cnt("p3").alias("after_repetition"),
        F.countDistinct(F.when(F.col("p3"), F.col("fp"))).cast("long")
        .alias("after_dedup"),
    )


def normalize_text(documents: DataFrame) -> DataFrame:
    """Curation-grade text normalization: Unicode NFC + control-char
    strip + whitespace collapse + trim — the canonicalization pass run
    before any hash-based dedup so visually-identical strings ("é" as
    one codepoint vs e+combining-accent) fingerprint identically.

    NFC runs as an Arrow-batched pandas_udf (Spark has no built-in
    Unicode normalizer; stdlib unicodedata implements UAX #15, the same
    algorithm DuckDB's nfc_normalize implements — the oracle
    hash-verifies the agreement). The regex steps are built-in
    expressions (codegen); per-row cost O(len); zero shuffles.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(nfc(F.col("text")), "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""),
            r"\s+", " ",
        )
    )
    return documents.select(
        "doc_id",
        cleaned.alias("norm_text"),
        (~cleaned.eqNullSafe(F.col("text"))).alias("changed"),
        F.length("text").cast("long").alias("n_chars_before"),
        F.length(cleaned).cast("long").alias("n_chars_after"),
    )


def bigram_lm_nll(documents: DataFrame, alpha: float = 1.0) -> DataFrame:
    """Model-based quality scoring, order 2: per-document mean negative
    log-likelihood under an add-α-smoothed bigram LM trained on the
    corpus itself — the actual CCNet/KenLM shape (context-conditioned
    probabilities), one order up from unigram_lm_nll.

        P(w_i | w_{i-1}) = (c(w_{i-1}, w_i) + α) / (c(w_{i-1}) + α·V)
        nll(doc) = -mean over the doc's bigram positions of ln P

    Smoothing keeps unseen bigrams finite, so train-on-self never
    divides by zero and the operator generalizes to scoring a held-out
    corpus against a trained one. Single-token docs have no bigram
    positions and emit NULL nll (no silent 0 — callers gate on it).

    Scale shape: bigrams materialize below the explode (one pass per
    doc), then fold IMMEDIATELY to per-doc pair counts (doc_id, w_prev,
    w, n_k) — a map-side-combined groupBy, so every downstream shuffle
    and join carries unique per-doc pairs, never raw positions (the
    position stream is ~10× the pair table on natural text). The global
    pair/context tables re-aggregate from that slim stream, V is a
    1-row broadcast, and the per-doc score is Σ n_k·ln(p_k) — the count
    rides the fold instead of repeating the ln. The pair→count join is
    Zipf-hot on stopword pairs, AQE-skew-splittable (bm25 posture).
    Text never shuffles. ln() folds through DECIMAL(38,18) + round(…,6),
    the unigram treatment; the oracle mirrors the n_k·ln(p) form
    token-for-token so the fold is bit-identical.
    """
    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    toked = documents.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("__toks")
    )
    t = F.col("__toks")
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.struct(
                F.element_at(t, i + 1).alias("w_prev"),
                F.element_at(t, i + 2).alias("w"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w_prev:string,w:string>>"))
    pos = toked.select("doc_id", F.explode(bigrams).alias("bg")).select(
        "doc_id", F.col("bg.w_prev").alias("w_prev"), F.col("bg.w").alias("w")
    )
    # Persisted: doc_pair feeds BOTH the global pair-count aggregate and
    # the score join's left side (Spark materializes no shared subplans
    # — without the cache the tokenize→explode→fold pipeline runs twice).
    doc_pair = persist_tracked(
        pos.groupBy("doc_id", "w_prev", "w").agg(
            F.count(F.lit(1)).cast("long").alias("n_k")
        )
    )
    pair_c = doc_pair.groupBy("w_prev", "w").agg(
        F.sum("n_k").cast("long").alias("c_pair")
    )
    ctx_c = pair_c.groupBy("w_prev").agg(
        F.sum("c_pair").cast("long").alias("c_ctx")
    )
    vocab = documents.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    ).agg(F.countDistinct("tok").cast("long").alias("v"))
    p = (F.col("c_pair") + F.lit(alpha)) / (
        F.col("c_ctx") + F.lit(alpha) * F.col("v")
    )
    return (
        doc_pair.join(pair_c, ["w_prev", "w"])
        .join(ctx_c, "w_prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("n_k").cast("long").alias("n_bigrams"),
            F.round(
                -(F.sum((F.col("n_k") * F.log(p)).cast("decimal(38,18)"))
                  .cast("double"))
                / F.sum("n_k"),
                6,
            ).alias("nll"),
        )
        .join(documents.select("doc_id"), "doc_id", "right")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            "nll",
        )
    )


def source_kl_divergence(documents: DataFrame) -> DataFrame:
    """Domain-drift profiling: KL(source ‖ corpus) over token unigram
    distributions — which sources' vocabularies deviate most from the
    corpus mixture (the data-mixture diagnostic run before setting
    sampling temperatures).

        KL(p_s ‖ q) = Σ_t p_s(t) · ln(p_s(t) / q(t))

    Every token of a source appears in the corpus by construction, so
    q(t) > 0 wherever p_s(t) > 0 and the sum is finite with no
    smoothing. One explode feeds both count tables (per-source and
    corpus totals reuse the same exchange path); the per-source fold is
    a slim (source, tok, counts) shuffle, text never moves; ln folds
    through DECIMAL(38,18) + round(…,6) (order-invariant, ulp-absorbed).
    """
    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    toks = documents.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    # Persisted: sc feeds the per-source totals, the corpus counts AND
    # the score join (three consumers; Spark materializes no shared
    # subplans — without the cache the tokenize→count pipeline runs 3×).
    sc = persist_tracked(toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c_st")
    ))
    s_tot = sc.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    cc = sc.groupBy("tok").agg(F.sum("c_st").cast("long").alias("c_t"))
    c_tot = cc.agg(F.sum("c_t").cast("long").alias("n"))
    p = F.col("c_st").cast("double") / F.col("n_s")
    q = F.col("c_t").cast("double") / F.col("n")
    term = p * F.log(p / q)
    return (
        sc.join(s_tot, "source")
        .join(cc, "tok")
        .crossJoin(F.broadcast(c_tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
            F.max("n_s").alias("n_tokens"),
            F.round(
                F.sum(term.cast("decimal(38,18)")).cast("double"), 6
            ).alias("kl_bits_nat"),
        )
    )


def unigram_lm_nll(documents: DataFrame) -> DataFrame:
    """Model-based quality scoring: per-document mean negative
    log-likelihood under a unigram LM trained on the corpus itself
    (CCNet-style perplexity filtering, with the n-gram LM reduced to
    its operator shape: count → normalize → score).

    nll(doc) = ln(T) - mean(ln c_t) over the doc's tokens, where c_t is
    the corpus count of token t and T the total token count. High nll =
    rare-token-heavy (gibberish, boilerplate-free junk); low = common
    filler.

    Scale shape (the bigram_lm_nll posture): the token stream folds
    IMMEDIATELY to per-doc term frequencies (doc_id, tok, n_k) — a
    map-side-combined groupBy — so the score join and every later
    shuffle carry unique per-doc terms, never raw positions; the corpus
    count table re-aggregates from the same slim stream (persisted:
    it feeds both, and Spark materializes no shared subplans). The
    per-doc fold is Σ n_k·ln(c_t) — counts ride the fold instead of
    repeating the ln per position. The join is tok→count (Zipf-hot on
    stopwords — AQE skew-split, the bm25_terms posture).

    ln() is the one non-IEEE-exact step (libm, ≤1 ulp per engine); the
    decimal(38,18) sum makes the fold order-invariant and round(…,6)
    absorbs the ulp — same treatment as cosine scores. The oracle
    mirrors the n_k·ln form token-for-token.
    """
    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    toks = documents.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    doc_tf = persist_tracked(
        toks.groupBy("doc_id", "tok").agg(
            F.count(F.lit(1)).cast("long").alias("n_k")
        )
    )
    counts = doc_tf.groupBy("tok").agg(F.sum("n_k").cast("long").alias("c_t"))
    total = counts.agg(F.sum("c_t").alias("t_total"))
    return (
        doc_tf.join(counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("n_k").cast("long").alias("n_tok"),
            (F.sum((F.col("n_k") * F.log("c_t")).cast("decimal(38,18)"))
             .cast("double") / F.sum("n_k")).alias("__avg_ln_c"),
        )
        .join(F.broadcast(total))  # 1-row scalar
        .select(
            "doc_id", "n_tok",
            F.round(F.log("t_total") - F.col("__avg_ln_c"), 6).alias("nll"),
        )
    )


def pack_sequences(documents: DataFrame, budget: int = 2048) -> DataFrame:
    """GPT-style sequence packing: concatenate each source's documents
    in doc_id order into one token stream and chunk the stream into
    fixed-`budget` training sequences. Emitted per doc: its stream
    offset and the sequence containing its FIRST token (a doc spanning
    a boundary is recoverable from offset + n_tok — the writer splits
    it across both sequences).

    One window (running token sum per source) = one shuffle on source;
    the source is the packing unit by construction (each source stream
    is one shard writer), so the partition key IS the semantic key —
    no salt applies. Token counts ride the projection; text never
    moves.
    """
    from pyspark.sql import Window

    n_tok = token_count("text")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = documents.select("doc_id", "source", n_tok.alias("n_tok"))
    end_off = F.sum("n_tok").over(w)
    offset = (end_off - F.col("n_tok"))
    return d.select(
        "doc_id", "source", "n_tok",
        offset.alias("offset"),
        F.floor(offset / F.lit(budget)).cast("long").alias("seq_id"),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, appendix A1.1)
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(documents: DataFrame) -> DataFrame:
    """Per-document Gopher rule flags + the combined keep/drop gate.

    The published heuristic battery for web-scale pretraining curation
    (Rae et al. 2021): word-count bounds, mean-word-length bounds,
    symbol-to-word ratios (# and ellipsis), bullet-/ellipsis-line
    fractions, alphabetic-word fraction, and a minimum distinct-
    stopword count. Every signal is a higher-order array expression
    over one tokenize + one line-split projection — zero shuffles,
    whole-stage codegen end to end, trivially row-parallel at 100 TB.

    Stopword hits use whole-token membership (`array_contains`), so
    punctuation-attached forms ("the,") don't count — the documented,
    engine-invariant simplification (both engines see identical
    tokens). Ratios are emitted rounded to 6 decimals for hash
    canonicalization; the gate compares unrounded values.
    """
    d = documents.select(
        "doc_id", "text",
        tokens("text").alias("__toks"),
        F.split(F.col("text"), "\n").alias("__lines"),
    )
    t, ln = F.col("__toks"), F.col("__lines")
    n_words = F.size(t).cast("long")
    n_lines = F.size(ln).cast("long")
    sum_wl = F.aggregate(t, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    mean_wl = sum_wl.cast("double") / n_words
    n_hash = F.regexp_count(F.col("text"), F.lit("#")).cast("long")
    n_ell = F.regexp_count(F.col("text"), F.lit(r"\.\.\.|…")).cast("long")
    n_bullet = F.size(F.filter(
        ln, lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•")
    )).cast("long")
    n_ellend = F.size(F.filter(
        ln, lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…")
    )).cast("long")
    n_alpha = F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_stop = sum(
        F.array_contains(t, sw).cast("int") for sw in GOPHER_STOPWORDS
    ).cast("long")
    hash_ratio = n_hash.cast("double") / n_words
    ell_ratio = n_ell.cast("double") / n_words
    bullet_frac = n_bullet.cast("double") / n_lines
    ellend_frac = n_ellend.cast("double") / n_lines
    alpha_frac = n_alpha.cast("double") / n_words
    gate = (
        (n_words >= 50) & (n_words <= 100_000)
        & (mean_wl >= 3.0) & (mean_wl <= 10.0)
        & (hash_ratio < 0.1) & (ell_ratio < 0.1)
        & (bullet_frac < 0.9) & (ellend_frac < 0.3)
        & (alpha_frac > 0.8) & (n_stop >= 2)
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(hash_ratio, 6).alias("hash_word_ratio"),
        F.round(ell_ratio, 6).alias("ellipsis_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellend_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        n_stop.alias("n_stop_hits"),
        gate.alias("gopher_ok"),
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fasttext-style shape)
# ---------------------------------------------------------------------------


def quality_classifier_sql(dialect: str, table: str = "documents",
                           salt: str = "qc1") -> str:
    """Render the hashed-linear-classifier query for 'spark' or 'duckdb'.

    The operator shape of a production quality classifier (CCNet /
    fastText-style filtering): hashing-trick featurization (token →
    weight via a salted hash, no vocabulary table to ship), a linear
    logit, a sigmoid probability. The weights here are the hash values
    themselves — a deterministic stand-in for trained weights; swapping
    in a real model changes ONE expression (the per-token weight
    lookup becomes a broadcast join against a (bucket, weight) table)
    and nothing about the plan shape.

    Exactness discipline: per-token weights are INTEGERS (the 32-bit
    md5 prefix, centered at 0 by subtracting 2^31), the per-doc logit
    is an exact BIGINT sum over the token array — order-invariant
    under any partitioning — and only the final sigmoid touches
    doubles. Zero shuffles: everything is a per-row array fold.

    Plan-shape note: an explode → codegen-Project → groupBy
    formulation was measured at the same steady time (0.9–1.4 s vs
    ~1.1 s at sf0.1) — the md5 + hex parse dominates either way — so
    the zero-shuffle fold wins on the dimension that matters at scale.
    """
    # Both salt and table are interpolated into SQL text rendered for
    # two engines — restrict them to identifier-safe characters so a
    # caller-supplied value can't terminate the literal / inject a
    # subquery.
    if not salt.replace("-", "").replace("_", "").isalnum():
        raise ValueError(f"salt must be alphanumeric/-/_: {salt!r}")
    if not all(
        part.replace("_", "").isalnum() and part
        for part in table.split(".")
    ) or not table:
        raise ValueError(f"table must be a (dotted) identifier: {table!r}")
    # The 32-bit weight folds hex digits of a BOUND md5 value: the
    # inner transform computes md5 once per token, the outer parses
    # its 8 digits. Inlining hash_u32_sql(md5(tok)) instead would
    # evaluate md5 8× per token — lambda bodies run interpreted, so
    # codegen subexpression elimination never sees them (measured ~2×
    # the whole query).
    fold = "CAST(0 AS BIGINT)"
    for i in range(1, 9):
        d = f"(instr('0123456789abcdef', substr(h, {i}, 1)) - 1)"
        fold = f"({fold} * 16 + {d})"
    centered = f"{fold} - CAST(2147483648 AS BIGINT)"
    if dialect == "spark":
        toks = f"split(trim(text), '\\\\s+')"
        hashed = f"transform({toks}, tk -> md5('{salt}|' || tk))"
        mapped = f"transform({hashed}, h -> {centered})"
        raw = f"aggregate({mapped}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        n = f"CAST(size({toks}) AS BIGINT)"
    elif dialect == "duckdb":
        toks = "regexp_split_to_array(trim(text), '\\s+')"
        hashed = f"list_transform({toks}, tk -> md5('{salt}|' || tk))"
        mapped = f"list_transform({hashed}, h -> {centered})"
        raw = f"CAST(list_sum({mapped}) AS BIGINT)"
        n = f"CAST(len({toks}) AS BIGINT)"
    else:  # pragma: no cover
        raise ValueError(dialect)
    return (
        f"SELECT doc_id, {n} AS n_tokens, {raw} AS logit_raw, "
        f"ROUND(1.0 / (1.0 + exp(-(CAST({raw} AS DOUBLE) "
        f"/ ({n} * 2147483648.0)))), 6) AS quality_prob "
        f"FROM {table}"
    )


def zipf_fit(documents: DataFrame, top_k: int = 1000,
             text_col: str = "text") -> DataFrame:
    """Zipf power-law fit of the token frequency distribution — the
    classic corpus-health QC signal: natural text fits ln(freq) ≈
    intercept + slope·ln(rank) with slope ≈ −1; a strongly deviating
    slope flags templated/synthetic/boilerplate-heavy data, and a
    post-dedup slope shift quantifies how much of the head the dedup
    removed.

    Least squares over the TOP-K tokens only (the standard fit window,
    and the scale guard: top-k plans as a TakeOrderedAndProject
    per-partition heap — the full vocabulary is never globally sorted;
    the rank window then runs over ≤ top_k rows). Moment sums pass
    through DECIMAL(38,18) (the dec_sum convention), so the fit is
    partitioning-invariant and reproduced bit-exactly by the DuckDB
    twin — ln and IEEE double products agree cross-engine, as
    q_unigram_lm already pins.

    Returns one row: (n_tokens, zipf_slope, zipf_intercept).
    """
    from pyspark.sql import Window as W

    toks = documents.select(
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("tok")
    )
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    order = [F.desc("c"), F.asc("tok")]
    top = counts.orderBy(*order).limit(top_k)
    ranked = top.withColumn(
        "r", F.row_number().over(W.orderBy(*order)).cast("long")
    )
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("c").cast("double"))
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dec_sum(x, "sx", scale=18),
        dec_sum(y, "sy", scale=18),
        dec_sum(x * y, "sxy", scale=18),
        dec_sum(x * x, "sxx", scale=18),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").alias("n_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "zipf_intercept"
        ),
    )


def heaps_fit(documents: DataFrame, n_points: int = 8,
              text_col: str = "text") -> DataFrame:
    """Heaps' law fit — the vocabulary-GROWTH counterpart of zipf_fit:
    V(n) ≈ K·n^β (β ≈ 0.4–0.6 for natural text). A sub-linear β says
    new data keeps contributing new vocabulary at the expected rate;
    β near 0 flags a saturated/templated corpus, β near 1 flags
    near-random token soup.

    The classic computation walks the corpus sequentially — impossible
    at scale. Here the growth curve comes from NESTED deterministic
    subsets instead: every document lands in one of `n_points` md5-gate
    buckets, subset_i = buckets 1..i, and ONE pass computes both curves
    as running sums over the bucket axis — a token's first-seen bucket
    is min(bucket) over its documents, so distinct(subset_i) is the
    cumulative count of first-seen ≤ i, and tokens(subset_i) is the
    cumulative occurrence count. Membership is partitioning-invariant
    (md5 on doc_id), the per-bucket frames are `n_points` rows, and the
    ln-ln least squares uses the same DECIMAL(38,18) moments as
    zipf_fit — hash-exact cross-engine.

    Returns one row: (n_points, heaps_beta, heaps_lnk).
    """
    from pyspark.sql import Window as W

    from aws_data_pipeline_ads_spark.operators.sampling import hash_u32_sql

    g = (
        F.pmod(
            F.expr(hash_u32_sql("CAST(doc_id AS STRING)")),
            F.lit(n_points),
        ) + 1
    ).cast("long")
    toks = documents.select(
        g.alias("g"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("tok"),
    )
    # token occurrences per bucket, and each token's first-seen bucket
    occ = toks.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    first = (
        toks.groupBy("tok").agg(F.min("g").alias("g"))
        .groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("new_toks"))
    )
    wcum = W.orderBy("g").rowsBetween(W.unboundedPreceding, 0)
    pts = (
        occ.join(first, "g", "full")
        .select(
            "g",
            F.coalesce("occ", F.lit(0)).alias("occ"),
            F.coalesce("new_toks", F.lit(0)).alias("new_toks"),
        )
        .withColumn("n_seen", F.sum("occ").over(wcum).cast("long"))
        .withColumn("v_seen", F.sum("new_toks").over(wcum).cast("long"))
        .filter((F.col("n_seen") > 0) & (F.col("v_seen") > 0))
    )
    x = F.log(F.col("n_seen").cast("double"))
    y = F.log(F.col("v_seen").cast("double"))
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dec_sum(x, "sx", scale=18),
        dec_sum(y, "sy", scale=18),
        dec_sum(x * y, "sxy", scale=18),
        dec_sum(x * x, "sxx", scale=18),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "heaps_lnk"
        ),
    )
