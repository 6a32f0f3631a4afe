"""Corpus-hygiene operators: benchmark decontamination and boilerplate
n-gram profiling.

Two training-data-pipeline staples the dedup family doesn't cover:

- **Decontamination**: before training, any document that shares a word
  n-gram with an evaluation/benchmark set must be flagged (else the
  benchmark leaks into the training corpus and eval numbers are
  meaningless). The standard recipe — used by GPT-3/PaLM-style data
  cards — is exact n-gram overlap: shingle both sides, join on the
  shingle hash, count hits per document.
- **Boilerplate profiling**: n-grams that recur across many documents
  (headers, footers, navigation chrome, license blurbs) are boilerplate;
  a per-document ratio of corpus-frequent n-grams is a quality signal
  (high ratio → template page, low information content).

Scale shape (100 TB corpus):

- The benchmark n-gram set is tiny relative to the corpus (benchmarks
  are thousands of documents, the corpus is billions) — it is DISTINCT'd
  and **broadcast**, so the corpus-side shingle explode never shuffles:
  scan → explode → broadcast-hash-join → per-doc partial agg. One
  shuffle total (the per-doc groupBy), and it is keyed by doc_id —
  high-cardinality, well spread.
- The boilerplate profile needs a corpus-wide document-frequency count
  (one shuffle on the shingle hash, map-side partial). The frequent set
  it produces is small by definition (heavy hitters are few) and is
  broadcast back against the corpus shingles.

Both reuse :func:`..dedup.doc_shingle_hash_sets` — md5-prefix word
hashing, bit-reproducible across engines (the DuckDB oracle mirrors it
verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineeringpipeline_spark.cache import tracked_persist
from dataengineeringpipeline_spark.operators.dedup import (
    _shingle_hash_arrays_arrow,
    doc_shingle_hash_sets,
)

#: Default n-gram width for contamination checks. Public data cards use
#: 8-13 for natural text; the synthetic fixture corpus draws ~50-word
#: documents from a ~30-word vocabulary, where 3-grams are already
#: selective.
DECONTAM_NGRAM = 3

#: A shingle present in more than this many documents counts as
#: boilerplate for :func:`boilerplate_stats`.
BOILERPLATE_MIN_DF = 3


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, n: int = DECONTAM_NGRAM
) -> DataFrame:
    """Per-document benchmark-overlap report: how many of the document's
    distinct word ``n``-grams also appear anywhere in ``benchmark``.

    Returns ``(doc_id, total_ngrams, contaminated_ngrams,
    contamination_ratio, is_contaminated)`` for every document in
    ``docs`` (zero-hit documents included — the downstream filter wants
    an explicit verdict per doc, not an absence). Documents too short to
    produce an ``n``-gram report ``total_ngrams = 0`` and a NULL ratio.

    The benchmark side is reduced to a DISTINCT hash set and broadcast;
    the corpus side never shuffles before its per-doc aggregation.
    """
    doc_sets = tracked_persist(doc_shingle_hash_sets(docs, n=n))
    bench_set = doc_shingle_hash_sets(benchmark, n=n).select("h").distinct()
    totals = doc_sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("total_ngrams"))
    hits = (
        doc_sets.join(F.broadcast(bench_set), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hit_ngrams"))
    )
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("total_ngrams", F.lit(0)).cast("long").alias("total_ngrams"),
            F.coalesce("hit_ngrams", F.lit(0)).cast("long").alias("contaminated_ngrams"),
        )
        .withColumn(
            "contamination_ratio",
            F.when(
                F.col("total_ngrams") > 0, F.col("contaminated_ngrams") / F.col("total_ngrams")
            ),
        )
        .withColumn("is_contaminated", F.col("contaminated_ngrams") > 0)
    )


def boilerplate_stats(
    docs: DataFrame, n: int = DECONTAM_NGRAM, min_df: int = BOILERPLATE_MIN_DF
) -> DataFrame:
    """Per-document boilerplate ratio: the fraction of the document's
    distinct ``n``-grams whose corpus document frequency exceeds
    ``min_df``.

    Returns ``(doc_id, total_ngrams, boilerplate_ngrams,
    boilerplate_ratio)``; short documents (< ``n`` words) report 0 total
    and a NULL ratio.

    Plan shape: the per-doc shingle-hash ARRAYS (map-only — no explode
    shuffle of corpus text, the same compact front end MinHash uses) are
    persisted once; the document-frequency side explodes the cached
    int64 arrays (cheap — no re-tokenization) into the one corpus-wide
    shuffle on the shingle hash; the frequent set it yields is collapsed
    to a single ``collect_list`` row (heavy hitters are few by
    definition — the observation behind the dedup module's
    ``DEDUP_MAX_DF`` skew guard; a frequent set too big for one row
    would mean ``min_df`` is misconfigured for the corpus) and
    broadcast, so the per-doc counts are a map-only
    ``size(array_intersect(hs, freq))`` projection of the cached
    arrays — no doc_id shuffle, no rejoin against ``docs``.

    Arrays are distinct within a document, so ``size`` / intersect
    counts equal the exploded-set counts exactly (modulo md5 hash
    collisions, the same assumption the DuckDB oracle makes).
    """
    # the vectorized Arrow shingle-hash kernel (keep_empty: short docs
    # must report 0 total n-grams, not vanish)
    arrays = tracked_persist(_shingle_hash_arrays_arrow(docs, n, keep_empty=True))
    frequent = (
        arrays.select(F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > min_df)
        .agg(F.collect_list("h").alias("freq"))
    )
    return (
        arrays.crossJoin(F.broadcast(frequent))
        .select(
            "doc_id",
            F.size("hs").cast("long").alias("total_ngrams"),
            F.size(F.array_intersect("hs", "freq")).cast("long").alias("boilerplate_ngrams"),
        )
        .withColumn(
            "boilerplate_ratio",
            F.when(
                F.col("total_ngrams") > 0, F.col("boilerplate_ngrams") / F.col("total_ngrams")
            ),
        )
    )


#: Source tag used as the stand-in "benchmark" corpus in the
#: driver-contract queries (a fixed slice of the fixture corpus).
BENCHMARK_SOURCE = "src0"


def decontamination_report(docs: DataFrame) -> DataFrame:
    """Driver-contract query: treat ``source = src0`` as the benchmark
    set and score every OTHER document's n-gram overlap against it."""
    return (
        decontaminate(
            docs.filter(F.col("source") != BENCHMARK_SOURCE),
            docs.filter(F.col("source") == BENCHMARK_SOURCE),
        )
        .orderBy("doc_id")
    )


def boilerplate_report(docs: DataFrame) -> DataFrame:
    """Driver-contract query: corpus-wide boilerplate profile."""
    return boilerplate_stats(docs).orderBy("doc_id")


def top_ngrams_per_source(
    docs: DataFrame, n: int = DECONTAM_NGRAM, top_k: int = 5, min_df: int = 2
) -> DataFrame:
    """Per-source vocabulary profile: each source's ``top_k`` word
    ``n``-grams by document frequency — the first thing a corpus owner
    reads when a source looks templated (one glance shows whether a
    domain is navigation chrome, licence blurbs, or real prose), and
    the per-source drill-down of :func:`boilerplate_stats`'s
    corpus-wide frequent set.

    Only n-grams repeated across at least ``min_df`` documents rank
    (singleton n-grams are not vocabulary, they're content). That floor
    is also the scale guard: the per-source ranking window would
    otherwise pass every distinct shingle of the source through one
    reducer — the singleton long tail is the bulk of that row count,
    and the floor prunes it BEFORE the window's per-source shuffle
    (the count aggregation itself is keyed by (source, shingle) —
    high-cardinality, map-side combined, well spread).
    """
    from dataengineeringpipeline_spark.operators.dedup import doc_shingles
    from pyspark.sql import Window

    counts = (
        doc_shingles(docs, n)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_df)
    )
    w = Window.partitionBy("source").orderBy(F.desc("doc_freq"), F.asc("shingle"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .orderBy("source", "rank")
    )
