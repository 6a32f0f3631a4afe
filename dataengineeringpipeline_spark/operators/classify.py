"""Model-based quality filtering: a hashed n-gram linear classifier.

The fasttext-shaped gate every web-corpus pipeline runs (CCNet-style
"does this look like reference text" scoring): tokenize, hash unigram +
word-bigram features into a fixed bucket space, sum per-bucket weights,
threshold the mean. Two properties drive the design here:

- **Scoring is map-only.** The model is a pure function of the feature
  hash (deterministic pseudo-random weights), so classification is a
  per-row projection — no weight-table join, no shuffle, no Python. At
  100 TB the score pass rides the same scan as every other text gate.
  A *trained* model swaps :func:`feature_weight` for a broadcast
  bucket→weight map lookup (the bucket space is fixed and small — 4096
  ints — so the map always broadcasts); nothing else changes shape.
- **Integer until the last step.** Weights are integers, per-doc sums
  are integers, corpus aggregates are integer sums; the only floats are
  final correctly-rounded divisions — which is what keeps the whole
  report bit-exact against the DuckDB oracle twin (the same discipline
  as the drift and HLL modules).

The deterministic weights stand in for trained parameters the way the
LSH hyperplanes stand in for a trained quantizer: the *plumbing* —
feature hashing, bucket space, fold-sum scoring, keep-rate reporting —
is the production shape; only the weight values are synthetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataengineeringpipeline_spark.operators.text import word_hash, words_col

#: Feature-hash bucket count (the classifier's parameter vector length).
N_BUCKETS = 4096
#: Knuth multiplicative constant — same generator the sampling/split
#: modules use for engine-portable pseudo-randomness.
_MULT = 2654435761
#: Weights are integers in [-50, 50]: (bucket * _MULT) % 101 - 50.
_WEIGHT_MOD = 101
_WEIGHT_SHIFT = 50


def feature_weight(token: Column) -> Column:
    """Integer weight in [-50, 50] for a token — md5-hash bucket, then a
    multiplicative-hash weight. Pure integer arithmetic end to end:
    identical in any engine (the oracle recomputes it in SQL)."""
    bucket = word_hash(token) % N_BUCKETS
    return (bucket * F.lit(_MULT)) % _WEIGHT_MOD - _WEIGHT_SHIFT


def doc_features(text: str | Column = "text") -> Column:
    """Unigram + word-bigram feature array (the fasttext feature set)."""
    ws = words_col(text)
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws("_", F.element_at(ws, i), F.element_at(ws, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(ws, bigrams)


def with_classifier_score(docs: DataFrame) -> DataFrame:
    """All input columns plus the gate columns (n_features, score_sum,
    keep) — the projection the streaming gate uses to ROUTE full rows
    (quarantine needs the original document, not just its score).
    Map-only; adds nothing but expressions to the scan."""
    feats = doc_features()
    return docs.withColumns(
        {
            "n_features": F.size(feats).cast("long"),
            "score_sum": F.aggregate(
                feats, F.lit(0).cast("long"), lambda acc, t: acc + feature_weight(t)
            ),
        }
    ).withColumn("keep", F.col("score_sum") >= 0)


def classifier_scores(docs: DataFrame) -> DataFrame:
    """Per-document classifier scores — one map-only projection.

    ``score_sum`` is the integer sum of feature weights (sequential
    fold: deterministic), ``mean_score`` the per-feature average, and
    ``keep`` the gate decision (``score_sum >= 0`` — the integer form of
    "mean score non-negative", so the decision itself never touches a
    float). Returns (doc_id, source, n_features, score_sum, mean_score,
    keep)."""
    # spread: a compact single-file corpus scans as ONE partition,
    # serializing the md5 feature hashing on one core (measured 16.6s →
    # ~1s at sf0.1 on 32 cores); no-op on well-partitioned input.
    from dataengineeringpipeline_spark.scale import spread

    docs = spread(docs.select("doc_id", "source", "text"), "doc_id")
    return with_classifier_score(docs).select(
        "doc_id",
        "source",
        "n_features",
        "score_sum",
        (F.col("score_sum").cast("double") / F.col("n_features").cast("double")).alias(
            "mean_score"
        ),
        "keep",
    )


def classifier_quality_summary(docs: DataFrame) -> DataFrame:
    """Per-source classifier gate report: docs, kept docs, keep rate,
    and the corpus-weighted mean feature score (integer sums, one
    division — NOT an average of per-doc floats, whose addition order
    would differ across engines and partitionings).

    One aggregation shuffle on ``source`` over integer partials; the
    scoring itself stays on the scan. Returns (source, docs, kept_docs,
    keep_rate, total_features, total_score, mean_feature_score) ordered
    by source."""
    scored = classifier_scores(docs)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("kept_docs"),
            F.sum("n_features").cast("long").alias("total_features"),
            F.sum("score_sum").cast("long").alias("total_score"),
        )
        .select(
            "source",
            "docs",
            "kept_docs",
            (F.col("kept_docs").cast("double") / F.col("docs").cast("double")).alias(
                "keep_rate"
            ),
            "total_features",
            "total_score",
            (
                F.col("total_score").cast("double")
                / F.col("total_features").cast("double")
            ).alias("mean_feature_score"),
        )
        .orderBy("source")
    )


def classifier_calibration(docs: DataFrame) -> DataFrame:
    """Calibration (reliability) table: classifier score bins vs the
    independent heuristic quality gate.

    The fasttext-style recipe trains/validates the cheap classifier
    against a trusted-but-expensive signal; this is the validation
    readout — per score bin, how often does the heuristic gate
    (:func:`..text.quality_score`, ``is_high_quality``) agree. A flat
    curve means the classifier score carries no quality signal; a
    monotone one calibrates a keep threshold.

    Binning is pure integer arithmetic: per-feature mean score in
    per-mille, shifted to non-negative BEFORE the division —
    ``(score_sum*10 + 500*n_features) div n_features`` ∈ [0, 1000] —
    because Spark's ``div`` truncates toward zero while DuckDB's ``//``
    floors; on a non-negative numerator they agree, on a negative one
    they differ by 1 at every non-exact quotient. ``div 100`` then
    yields 11 bins (bin 10 is the exact +50-mean edge).

    One aggregation shuffle over ~11 integer groups; scoring and the
    gate are map-only scan projections. Returns (score_bin, docs,
    classifier_keep, high_quality, high_quality_rate) ordered by
    score_bin."""
    from dataengineeringpipeline_spark.operators.text import quality_score, text_stats

    scored = classifier_scores(docs)
    gate = quality_score(text_stats(docs)).select("doc_id", "is_high_quality")
    # n_features = 0 (empty doc) must yield a NULL bin, not an ANSI
    # divide-by-zero task failure.
    joined = scored.join(gate, "doc_id").withColumn(
        "score_bin",
        F.expr(
            "CASE WHEN n_features > 0 THEN"
            " ((score_sum * 10 + 500 * n_features) div n_features) div 100 END"
        ).cast("int"),
    )
    return (
        joined.groupBy("score_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias(
                "classifier_keep"
            ),
            F.sum(F.when(F.col("is_high_quality"), 1).otherwise(0)).cast("long").alias(
                "high_quality"
            ),
        )
        .withColumn(
            "high_quality_rate",
            F.col("high_quality").cast("double") / F.col("docs").cast("double"),
        )
        .orderBy("score_bin")
    )


#: Per-mille scale for the bigram conditional-frequency score.
FLUENCY_SCALE = 1000


def _bigram_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, source, w, w2) — one row per in-document bigram. The
    single corpus-wide explode the whole fluency pipeline shares: the
    bigram count table AND the per-doc scoring both derive from it, so
    callers persist it and the text is tokenized exactly once."""
    from dataengineeringpipeline_spark.scale import spread

    ws = words_col()
    return (
        spread(docs.select("doc_id", "source", "text"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.when(
                    F.size(ws) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(ws) - 1),
                        lambda i: F.struct(
                            F.element_at(ws, i).alias("w"),
                            F.element_at(ws, i + 1).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w:string,w2:string>>"))
            ).alias("b"),
        )
        .select("doc_id", "source", "b.w", "b.w2")
    )


def _fluency_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_bigrams, fluency_sum, fluency_pm) for every
    document with ≥1 bigram — the aggregation kernel both
    :func:`bigram_fluency` (which re-attaches bigram-less docs) and
    :func:`quality_gate_ensemble` (which left-joins and treats absence
    as a failed gate) consume."""
    from dataengineeringpipeline_spark.cache import tracked_persist

    pairs = tracked_persist(_bigram_pairs(docs))
    uni = (
        docs.select(F.explode(words_col()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    bi = pairs.groupBy("w", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    return (
        pairs.join(F.broadcast(bi), ["w", "w2"])
        .join(F.broadcast(uni), "w")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.expr(f"(c2 * {FLUENCY_SCALE}) div c1")).cast("long").alias(
                "fluency_sum"
            ),
        )
        .withColumn("fluency_pm", F.expr("fluency_sum div n_bigrams").cast("long"))
    )


def bigram_fluency(docs: DataFrame, ordered: bool = True) -> DataFrame:
    """Count-based LM fluency score per document — the perplexity-proxy
    quality signal (gibberish and shuffled text have rare word
    transitions; fluent text has common ones), kept in exact integers
    so the gate is engine- and partitioning-exact where a log-prob
    perplexity would tie the score to libm (the same divergence the
    HLL/drift modules document).

    Each in-document bigram (w, w') contributes the per-mille
    conditional frequency ``C(w,w') * 1000 div C(w)`` — "of the times w
    occurred corpus-wide, how often was it followed by w'". A document's
    ``fluency_pm`` is the integer mean contribution. C(w) ≥ C(w,w') ≥ 1
    for every observed bigram, so the per-bigram term is in [0, 1000]
    and never divides by zero.

    Plan shape: the exploded (doc_id, w, w') pair stream is persisted
    and feeds BOTH the bigram count table and the scoring join, so the
    corpus text is tokenized/exploded for bigrams exactly once (the
    unigram table is its own cheaper pass); count tables are
    vocabulary-sized broadcasts; the doc_id re-aggregation carries two
    longs per bigram, never text. Returns (doc_id, source, n_bigrams,
    fluency_sum, fluency_pm) with NULL scores for documents under 2
    words, ordered by doc_id."""
    from dataengineeringpipeline_spark.scale import spread

    # spread: the unigram pass and the bigram-less re-attach otherwise
    # scan the compact corpus's single partition directly (profiled: an
    # 0.82s single-task unigram explode at sf0.1) — the same entry
    # spread quality_gate_ensemble already does; one persisted scan
    # serves the pair stream, the unigram table, and the re-attach.
    docs = spread(docs.select("doc_id", "source", "text"), "doc_id")
    scored = _fluency_scored(docs)
    out = (
        docs.select("doc_id", "source")
        .join(scored.drop("source"), "doc_id", "left")
        .select("doc_id", "source", "n_bigrams", "fluency_sum", "fluency_pm")
    )
    return out.orderBy("doc_id") if ordered else out


#: Fluency gate threshold (per-mille mean conditional bigram frequency).
#: Sits at the corpus median so the vote carries real signal; documents
#: too short to have bigrams fail the gate (no evidence of fluency).
FLUENCY_GATE_PM = 33


def quality_gate_ensemble(docs: DataFrame) -> DataFrame:
    """Majority-vote quality filter — three INDEPENDENT quality signals
    (the hashed n-gram classifier, the heuristic length/diversity/punct
    score, and the count-LM fluency gate) fused per document, reported
    per source. Production corpus filtering runs ensembles because any
    single scorer has exploitable blind spots (a spam page can be long
    and diverse; gibberish can hash to positive features); requiring
    2-of-3 keeps the false-keep rate multiplicative while letting each
    scorer overrule one bad vote.

    Plan shape: the classifier and heuristic votes are pure expressions
    over the corpus scan (map-only, zero exchanges of their own); the
    fluency vote reuses :func:`bigram_fluency`'s tokenize-once pipeline
    (vocabulary-sized broadcast count tables, int-only doc_id
    re-aggregation). The three int-per-doc frames meet in two doc_id
    joins, then one per-source aggregation — text never shuffles.
    Returns one row per source with per-gate pass counts, the
    majority-vote keep count, unanimity counts, and the integer
    per-mille ensemble keep rate, ordered by source.
    """
    from dataengineeringpipeline_spark.operators.text import quality_score, text_stats
    from dataengineeringpipeline_spark.scale import spread

    docs = spread(docs.select("doc_id", "lang", "source", "text"), "doc_id")
    # classifier + heuristic votes stack on ONE scan projection (the
    # extra_cols passthrough) — no doc_id join between them
    scored = with_classifier_score(docs).withColumnRenamed("keep", "cls_keep")
    heur_cls = quality_score(text_stats(scored, extra_cols=("cls_keep",))).select(
        "doc_id", "source", "is_high_quality", "cls_keep"
    )
    flu = _fluency_scored(docs).select(
        "doc_id", (F.col("fluency_pm") >= FLUENCY_GATE_PM).alias("flu_keep")
    )
    votes = (
        F.when(F.col("is_high_quality"), 1).otherwise(0)
        + F.when(F.col("cls_keep"), 1).otherwise(0)
        + F.when(F.coalesce(F.col("flu_keep"), F.lit(False)), 1).otherwise(0)
    )
    per_doc = heur_cls.join(flu, "doc_id", "left").select(
        "source", "is_high_quality", "cls_keep", "flu_keep", votes.alias("votes")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(F.when(F.col("cls_keep"), 1).otherwise(0)).cast("long").alias("cls_pass"),
            F.sum(F.when(F.col("is_high_quality"), 1).otherwise(0))
            .cast("long")
            .alias("heur_pass"),
            F.sum(F.when(F.coalesce(F.col("flu_keep"), F.lit(False)), 1).otherwise(0))
            .cast("long")
            .alias("flu_pass"),
            F.sum(F.when(F.col("votes") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("ensemble_keep"),
            F.sum(F.when(F.col("votes") == 3, 1).otherwise(0))
            .cast("long")
            .alias("unanimous_keep"),
            F.sum(F.when(F.col("votes") == 0, 1).otherwise(0))
            .cast("long")
            .alias("unanimous_reject"),
        )
        .select(
            "source",
            "docs",
            "cls_pass",
            "heur_pass",
            "flu_pass",
            "ensemble_keep",
            "unanimous_keep",
            "unanimous_reject",
            F.expr("(ensemble_keep * 1000) div docs").cast("long").alias("keep_pm"),
        )
        .orderBy("source")
    )
