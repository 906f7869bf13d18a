"""Broadcast Bloom-filter runtime prefilter.

The 100 TB decontamination/membership pattern: when one side of an
equi-join is small (benchmark shingles, a blocklist, yesterday's key
set) and the other side is the corpus, the exact join still shuffles
every corpus-side key. Engines solve this with runtime filters
(Spark's own `spark.sql.optimizer.runtimeFilter.bloomFilter` does it
for joins it can see through); this operator makes the pattern an
explicit, composable building block the pipeline can aim at ANY
expression — here, exploded shingle streams the optimizer cannot
reason about.

Design constraints (same rules as every hot-path operator in this
package):

* **Zero Python in the data path.** The filter is not a UDF closure
  over a bitmap; it is a tiny `(widx, w)` words table — `m_bits/64`
  rows ≤ a few thousand — built by ONE `bit_or` aggregate and
  broadcast-joined into the big side once per hash function. Bit
  tests are `shiftrightunsigned`/`bitwiseAND` codegen expressions.
* **Bounded driver materialization.** The words table is collected
  once (≤ `m_bits/64` rows — 16,384 at the default, 128 KiB) and
  re-shipped as a local relation, the same bounded-collect precedent
  as the IVF centroid table (similarity.py): without it Spark
  re-derives the whole build pipeline once per hash-function join
  (measured: 4× redundant bench-side shuffles in the declared plan).
* **Deterministic.** Positions are Kirsch–Mitzenmacher double hashing
  over two seeded-xxhash64-derived 32-bit values — deterministic
  across runs and partitionings. No oracle twin is needed (or
  attempted): the bloom is a PREfilter, the exact join afterwards
  kills false positives, so results are bit-identical to the
  unfiltered plan and verify against the plain exact-join oracle
  regardless of the hash family.

False-positive math: with `m_bits = 2^20` and k = 4 hashes, 100k
distinct build-side keys give (1 - e^(-kn/m))^k ≈ 1% FP — i.e. the
corpus-side shuffle carries ~1% junk instead of 100% of a corpus that
overwhelmingly does NOT match the benchmark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.session import local_frame

_DEFAULT_M_BITS = 1 << 20
_DEFAULT_HASHES = 4


def _h1_h2(col: str):
    """Two independent 32-bit hashes per value, via seeded xxhash64.

    xxhash64 instead of the md5-hex-conv idiom used where ORACLE
    portability matters: bloom positions never need an oracle twin
    (the exact verify join makes the final result independent of which
    hash family picked the candidates), and xxhash64 is a single JVM
    long op vs md5 + two hex-string parses — measured ~2× on the
    probe-side chain.
    """
    h1 = F.pmod(F.xxhash64(F.col(col)), F.lit(1 << 32))
    h2 = F.pmod(F.xxhash64(F.col(col), F.lit(1)), F.lit(1 << 32))
    # Double hashing degenerates when h2 == 0 (all k probes collapse
    # onto h1); force h2 odd instead — also coprime with the power-of-2
    # bit space, so probes cycle through distinct positions.
    return h1, h2.bitwiseOR(F.lit(1))




def bloom_words(values: DataFrame, col: str,
                m_bits: int = _DEFAULT_M_BITS,
                n_hashes: int = _DEFAULT_HASHES) -> DataFrame:
    """Build the filter as a `(widx int, w long)` words table.

    One explode (k rows per value) + one `bit_or` aggregate over at
    most `m_bits/64` groups. The output is the broadcast side of
    `bloom_prefilter` — at the default 2^20 bits it is ≤ 16,384 rows
    (128 KiB of bitmap), trivially broadcastable no matter how large
    the logical filter domain.
    """
    # Bind the two hash halves before fanning out to k positions (one
    # hash per value, not per position — see bloom_prefilter).
    h1, h2 = _h1_h2(col)
    bound = values.select(h1.alias("__bh1"), h2.alias("__bh2"))
    pos = F.explode(F.array(*[
        F.pmod(F.col("__bh1") + F.lit(i) * F.col("__bh2"), F.lit(m_bits))
        for i in range(n_hashes)
    ])).alias("pos")
    # The PySpark shiftleft wrapper takes a Python-int shift amount;
    # a column-valued shift needs the SQL expression form.
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
    return (
        bound.select(pos)
        .select((F.col("pos") / F.lit(64)).cast("int").alias("widx"), bit.alias("bit"))
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("w"))
    )


def bloom_words_local(values: DataFrame, col: str,
                      m_bits: int = _DEFAULT_M_BITS,
                      n_hashes: int = _DEFAULT_HASHES) -> DataFrame:
    """`bloom_words`, materialized once as a local relation.

    `bloom_prefilter` consumes the words table in one broadcast join
    PER hash function; handing it the lazy aggregate makes Spark
    re-derive the whole build pipeline k times. Collecting is bounded
    by construction — ≤ `m_bits/64` rows regardless of build-side
    cardinality (128 KiB of longs at the default) — the same bounded-
    collect pattern as the IVF centroid table (similarity.py). A
    plain persist() is NOT equivalent: a cached-but-unmaterialized
    subtree under a broadcast hint mis-planned in combined diff plans
    (see decontaminate_bloom docstring).
    """
    rows = bloom_words(values, col, m_bits, n_hashes).collect()
    return local_frame(values.sparkSession, rows, "widx int, w bigint")


def bloom_prefilter(df: DataFrame, col: str, words: DataFrame,
                    m_bits: int = _DEFAULT_M_BITS,
                    n_hashes: int = _DEFAULT_HASHES) -> DataFrame:
    """Keep only rows whose `col` value MIGHT be in the filter.

    No false negatives (every build-side value passes); false
    positives bounded by the bloom math above. k broadcast left joins
    on the word index — all map-side, no shuffle of `df` — then k
    codegen bit tests. A word index absent from the words table means
    no build-side value touched that word: `coalesce(w, 0)` fails the
    bit test and the row drops, as it must.

    The two hash halves are BOUND to columns first: the k widx/bidx
    expressions then cost integer arithmetic, not a fresh hash per use
    — inlining the position expressions here measured 16 hash
    evaluations per probe row (interleaved joins defeat Spark's
    per-Project subexpression elimination), ~3× the whole prefilter.
    """
    h1, h2 = _h1_h2(col)
    out = df.withColumn("__bh1", h1).withColumn("__bh2", h2)
    cond = F.lit(True)
    for i in range(n_hashes):
        pos = F.pmod(F.col("__bh1") + F.lit(i) * F.col("__bh2"), F.lit(m_bits))
        widx = (pos / F.lit(64)).cast("int")
        bidx = (pos % 64).cast("int")
        wtab = words.select(
            F.col("widx").alias(f"__widx_{i}"), F.col("w").alias(f"__w_{i}")
        )
        out = out.withColumn(f"__widx_{i}", widx).withColumn(f"__bidx_{i}", bidx)
        out = out.join(F.broadcast(wtab), f"__widx_{i}", "left")
        cond = cond & F.expr(
            f"(shiftrightunsigned(coalesce(__w_{i}, CAST(0 AS BIGINT)), "
            f"__bidx_{i}) & 1) = 1"
        )
    drop = ["__bh1", "__bh2"] + [
        c for i in range(n_hashes)
        for c in (f"__widx_{i}", f"__bidx_{i}", f"__w_{i}")
    ]
    return out.filter(cond).drop(*drop)


def decontaminate_bloom(corpus: DataFrame, benchmark: DataFrame, k: int = 5,
                        m_bits: int = _DEFAULT_M_BITS,
                        n_hashes: int = _DEFAULT_HASHES) -> DataFrame:
    """Keep-side decontamination with a bloom prefilter on the corpus
    shingle stream.

    Same semantics as `contamination.decontaminate` (bit-identical
    output — the exact join after the prefilter kills bloom false
    positives), different shuffle bill: the corpus shingle stream is
    filtered to ~|contaminated| + 1% FP *before* the distinct/join
    exchanges, so at 100 TB the shuffles carry the quarantine
    candidates instead of the whole corpus.

    Plan shape: benchmark shingles → words table (one tiny agg);
    corpus shingles (NO distinct — the prefilter runs map-side on the
    raw explode, and hit doc_ids only need a semi join, not per-
    (doc, shingle) dedup) → bloom_prefilter → broadcast LEFT SEMI
    against the exact benchmark shingle set (false positives die
    here) → distinct doc_ids → left_anti against corpus.

    `bench_sh` feeds two consumers (words build + exact verify) and is
    deliberately NOT persisted: marking this subtree cached makes
    Spark's cache manager substitute the InMemoryRelation into every
    semantically-equal subplan — including the broadcast arm here and
    any sibling query diffed against this one — and that substitution,
    combined with a broadcast hint on the yet-unmaterialized cache,
    produced wrong results in a combined exceptAll plan (pinned by
    test_decontaminate_bloom_equals_exact, which evaluates the diff as
    the session's FIRST action). Recomputing the benchmark-side
    subtree twice is cheap by construction — the benchmark is the
    small side or the bloom pattern wouldn't apply.
    """
    from aws_data_pipeline_ads_spark.operators.dedup import doc_shingle_sets
    from aws_data_pipeline_ads_spark.operators.partitioning import fan_out

    bench_sh = doc_shingle_sets(benchmark, k=k).select("tok").distinct()
    words = bloom_words_local(bench_sh, "tok", m_bits, n_hashes)
    # the shingle explode + k-probe bit tests are the per-row cost and
    # run in the corpus SCAN stage — serial on a 1-task input (guide
    # §2.5 unsplittable input); widen adaptively (no-op at scale).
    # r12 A/B on the served twin: 2.45 → 1.85 s interleaved medians.
    corpus_sh = doc_shingle_sets(fan_out(corpus, "doc_id"), k=k,
                                 distinct=False)
    candidates = bloom_prefilter(corpus_sh, "tok", words, m_bits, n_hashes)
    # Both join build sides descend from the same source relation as
    # the probe side (benchmark and corpus are filters of one table).
    # Same-named join keys in that shape are the ambiguous-self-join
    # trap: when a caller combines this result with another lineage of
    # the same table in ONE plan (a diff, a union), Spark's relation
    # dedup can re-resolve a `tok == tok` / `doc_id == doc_id` key to
    # a single side and silently match everything. Unique build-side
    # names make misresolution impossible (pinned by
    # test_decontaminate_bloom_equals_exact, which evaluates exactly
    # such a combined diff plan).
    bench_j = (
        doc_shingle_sets(benchmark, k=k)
        .select(F.col("tok").alias("__bench_tok"))
        .distinct()
    )
    hits = (
        candidates.join(F.broadcast(bench_j),
                        F.col("tok") == F.col("__bench_tok"), "left_semi")
        .select(F.col("doc_id").alias("__hit_id"))
        .distinct()
    )
    return corpus.join(hits, F.col("doc_id") == F.col("__hit_id"), "left_anti")


def _value_fingerprint(values: DataFrame, col: str) -> tuple[int, int]:
    """(n_distinct, xxhash64 bit_xor) over the DISTINCT values — an
    order/partitioning-independent identity for the filter's build set.
    bit_xor is commutative+associative, so the fold result is the same
    no matter how Spark partitions the aggregate; together with the
    exact count it detects both additions and swaps."""
    row = (
        values.select(F.col(col).alias("__v")).distinct()
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64(F.col("__v"))), F.lit(0)).alias("x"),
        )
        .collect()[0]
    )
    return int(row.n), int(row.x)


def bloom_write(values: DataFrame, col: str, path: str,
                m_bits: int = _DEFAULT_M_BITS,
                n_hashes: int = _DEFAULT_HASHES) -> None:
    """Materialize the words table (the serving-index pattern): the
    filter for a benchmark/blocklist changes rarely, so build it once
    write-side and let every decontamination run scan a ≤128 KiB
    parquet instead of re-aggregating the build side. Parameters ride
    along so probes can't silently mismatch the build geometry, and a
    build-set fingerprint (distinct count + xxhash64 bit_xor) rides
    along so a SERVING query can prove the index was built from the
    benchmark it is decontaminating against — a stale SUBSET filter
    would silently pass contaminated docs (no false negatives holds
    only for the build-time value set)."""
    words = bloom_words(values, col, m_bits, n_hashes)
    words.coalesce(1).write.mode("overwrite").parquet(f"{path}/words")
    fp_n, fp_x = _value_fingerprint(values, col)
    spark = values.sparkSession
    local_frame(
        spark, [(int(m_bits), int(n_hashes), fp_n, fp_x)],
        "m_bits long, n_hashes int, fp_count long, fp_xor long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def bloom_read(spark, path: str) -> tuple[DataFrame, int, int, tuple[int, int]]:
    """(local words table, m_bits, n_hashes, build-set fingerprint) from
    a bloom_write index — the words collect is bounded by construction
    (≤ m_bits/64 rows).

    The index is ≤128 KiB of longs that ends up as a driver-local
    relation either way, so read it with pyarrow ON the driver when the
    path is a plain filesystem: two Spark scan jobs (schema inference +
    collect each) for this little data were ~0.6 s of pure scheduling
    overhead per serve (guide §5 — the driver should do no data work,
    but *bounded metadata* is exactly the exception; this is the same
    posture as the commit-log reads). Non-posix paths (s3a://, hdfs://)
    fall back to the Spark scan, which also owns error reporting for a
    genuinely missing index."""
    def _local(p: str) -> list | None:
        if "://" in p:
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            meta_t = pq.read_table(f"{p}/meta").to_pylist()[0]
            words_t = pq.read_table(f"{p}/words")
            return [meta_t, list(zip(words_t.column("widx").to_pylist(),
                                     words_t.column("w").to_pylist()))]
        except (FileNotFoundError, OSError, KeyError, IndexError,
                pa.ArrowInvalid) as e:
            # expected miss shapes only (absent/renamed index, schema
            # drift, truncated footer): fall through to the Spark read,
            # which owns error reporting for a genuinely missing index.
            # Anything else (a corrupt half-written local file raising
            # an unexpected type) propagates from HERE rather than being
            # masked and re-surfacing from the fallback's code path.
            import logging

            logging.getLogger(__name__).debug(
                "bloom_read pyarrow fast path missed (%s); "
                "falling back to Spark scan", e)
            return None

    loc = _local(path)
    if loc is not None:
        meta_d, word_rows = loc
        words = local_frame(
            spark, [(int(a), int(b)) for a, b in word_rows],
            "widx int, w bigint")
        return (words, int(meta_d["m_bits"]), int(meta_d["n_hashes"]),
                (int(meta_d["fp_count"]), int(meta_d["fp_xor"])))
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    rows = spark.read.parquet(f"{path}/words").collect()
    words = local_frame(spark, rows, "widx int, w bigint")
    return (words, int(meta.m_bits), int(meta.n_hashes),
            (int(meta.fp_count), int(meta.fp_xor)))


def decontaminate_served(spark, path: str, corpus: DataFrame,
                         benchmark: DataFrame, k: int = 5) -> DataFrame:
    """decontaminate_bloom with the prefilter served from a bloom_write
    index — bit-identical output (the exact verify join still runs
    against the live benchmark shingles; the index only decides which
    corpus shingles reach it, and a stale-but-SUPERSET filter can only
    admit extra candidates that the exact join kills).

    A stale SUBSET filter is the dangerous direction: shingles the
    benchmark gained after bloom_write would be dropped by the
    prefilter before the exact join ever sees them, silently keeping
    contaminated docs. Guarded here by comparing the index's build-set
    fingerprint against the LIVE benchmark shingles and refusing to
    serve on mismatch — rebuild via bloom_write when the benchmark
    changes."""
    from aws_data_pipeline_ads_spark.operators.dedup import doc_shingle_sets
    from aws_data_pipeline_ads_spark.operators.partitioning import fan_out

    words, m_bits, n_hashes, fp = bloom_read(spark, path)
    live_sh = doc_shingle_sets(benchmark, k=k).select("tok").distinct()
    live_fp = _value_fingerprint(live_sh, "tok")
    if live_fp != fp:
        raise ValueError(
            f"bloom index at {path!r} was built from a different benchmark "
            f"shingle set (index fingerprint {fp}, live {live_fp}); a stale "
            f"prefilter can silently keep contaminated docs — rebuild with "
            f"bloom_write(benchmark shingles, ...)"
        )
    # widen the 1-task corpus scan before the shingle explode + k-probe
    # bit tests (see decontaminate_bloom; r12 A/B: 2.45 → 1.85 s)
    corpus_sh = doc_shingle_sets(fan_out(corpus, "doc_id"), k=k,
                                 distinct=False)
    candidates = bloom_prefilter(corpus_sh, "tok", words, m_bits, n_hashes)
    bench_j = (
        doc_shingle_sets(benchmark, k=k)
        .select(F.col("tok").alias("__bench_tok"))
        .distinct()
    )
    hits = (
        candidates.join(F.broadcast(bench_j),
                        F.col("tok") == F.col("__bench_tok"), "left_semi")
        .select(F.col("doc_id").alias("__hit_id"))
        .distinct()
    )
    return corpus.join(hits, F.col("doc_id") == F.col("__hit_id"), "left_anti")
