"""Text analysis operators over the ``documents`` corpus.

Everything here is built from JVM-side expression primitives (``split``,
``regexp_count``, higher-order array functions) — no Python UDFs — so the
whole pipeline stays inside WholeStageCodegen and scales linearly with
executors. Word hashing uses md5-prefix parsing (``conv(substr(md5(w),
1,12),16,10)``) which is deterministic across engines and runs — the
foundation for the oracle-checkable MinHash/SimHash in :mod:`dedup`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: A BPE-ish tokenizer regex: letter runs, digit runs, single punctuation.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic (public common-word lists).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "se", "las"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein"),
}
CJK_REGEX = r"[一-鿿]"


def words_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def word_hash(word: Column) -> Column:
    """Deterministic 48-bit word hash: the md5-prefix parse, bit-identical
    in any engine (the oracle recomputes it)."""
    return F.conv(F.substring(F.md5(word), 1, 12), 16, 10).cast("long")


def text_stats(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document statistics: size, tokenization, character-class ratios,
    lexical diversity. One narrow projection — no shuffle.

    ``extra_cols`` names input columns to carry through unchanged, so a
    caller that already computed other per-doc signals on the same scan
    (e.g. the classifier gate in ``classify.quality_gate_ensemble``) can
    stack this projection on top instead of paying a doc_id join."""
    w = words_col()
    char_count = F.length("text")
    word_count = F.when(F.length(F.trim(F.col("text"))) == 0, 0).otherwise(F.size(w))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        *extra_cols,
        char_count.alias("char_count"),
        word_count.alias("word_count"),
        F.size(F.array_distinct(w)).alias("distinct_words"),
        F.regexp_count("text", F.lit(TOKEN_REGEX)).alias("token_count"),
        F.regexp_count("text", F.lit("[0-9]")).alias("digit_chars"),
        F.regexp_count("text", F.lit(r"[^A-Za-z0-9\s]")).alias("punct_chars"),
        F.regexp_count("text", F.lit(r"\s")).alias("space_chars"),
        F.expr("aggregate(split(trim(text), '\\\\s+'), 0L, (acc, w) -> acc + length(w))").alias(
            "letter_chars"
        ),
    ).withColumns(
        {
            "avg_word_len": F.when(
                F.col("word_count") > 0, F.col("letter_chars") / F.col("word_count")
            ),
            "lexical_diversity": F.when(
                F.col("word_count") > 0, F.col("distinct_words") / F.col("word_count")
            ),
            # Guarded: empty documents (char_count = 0) must yield NULL, not
            # an ANSI DIVIDE_BY_ZERO task failure.
            "digit_ratio": F.when(
                F.col("char_count") > 0, F.col("digit_chars") / F.col("char_count")
            ),
            "punct_ratio": F.when(
                F.col("char_count") > 0, F.col("punct_chars") / F.col("char_count")
            ),
            "space_ratio": F.when(
                F.col("char_count") > 0, F.col("space_chars") / F.col("char_count")
            ),
        }
    )


def quality_score(stats: DataFrame) -> DataFrame:
    """Composite 0–100 document quality score (length, diversity,
    punctuation sanity) — threshold semantics like the reference's DQ
    bucketing, pure arithmetic so it is engine-portable."""
    length_score = (
        F.when(F.col("word_count") >= 50, 40)
        .when(F.col("word_count") >= 20, 30)
        .when(F.col("word_count") >= 5, 15)
        .otherwise(0)
    )
    diversity_score = (
        F.when(F.col("lexical_diversity") >= 0.7, 30)
        .when(F.col("lexical_diversity") >= 0.4, 20)
        .when(F.col("lexical_diversity") >= 0.2, 10)
        .otherwise(0)
    )
    punct_score = F.when(F.col("punct_ratio") <= 0.1, 30).when(F.col("punct_ratio") <= 0.25, 15).otherwise(0)
    return stats.withColumn(
        "quality_score", (length_score + diversity_score + punct_score).cast("int")
    ).withColumn("is_high_quality", F.col("quality_score") >= 70)


def language_scores(docs: DataFrame) -> DataFrame:
    """Stopword-hit counts per language + CJK character count."""
    w = words_col()

    def hits(lang: str) -> Column:
        stopwords = LANG_STOPWORDS[lang]

        def is_stopword(x: Column) -> Column:
            return x.isin(*stopwords)

        return F.size(F.filter(w, is_stopword)).alias(f"hits_{lang}")

    return docs.select(
        "doc_id",
        "lang",
        F.regexp_count("text", F.lit(CJK_REGEX)).alias("cjk_chars"),
        *[hits(lang) for lang in LANG_STOPWORDS],
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Heuristic language prediction with a deterministic tie-break order
    (zh by CJK presence, then en ≥ es ≥ fr ≥ de by stopword hits)."""
    s = language_scores(docs)
    predicted = (
        F.when(F.col("cjk_chars") > 0, "zh")
        .when(
            (F.col("hits_en") >= F.col("hits_es"))
            & (F.col("hits_en") >= F.col("hits_fr"))
            & (F.col("hits_en") >= F.col("hits_de"))
            & (F.col("hits_en") > 0),
            "en",
        )
        .when((F.col("hits_es") >= F.col("hits_fr")) & (F.col("hits_es") >= F.col("hits_de")) & (F.col("hits_es") > 0), "es")
        .when((F.col("hits_fr") >= F.col("hits_de")) & (F.col("hits_fr") > 0), "fr")
        .when(F.col("hits_de") > 0, "de")
        .otherwise("unknown")
    )
    return s.withColumn("predicted_lang", predicted).withColumn(
        "lang_match", F.col("predicted_lang") == F.col("lang")
    )


def language_id_eval(docs: DataFrame) -> DataFrame:
    """Confusion rollup of predicted vs labeled language."""
    return (
        language_id(docs)
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("doc_count"))
        .orderBy("lang", "predicted_lang")
    )


def token_histogram(docs: DataFrame) -> DataFrame:
    """Power-of-two token-count histogram — the sequence-length
    distribution a corpus owner reads before choosing chunk sizes and
    packing budgets (one glance answers "how much of the corpus is
    shorter than the context window?").

    Bucket = number of binary digits of ``token_count`` (``[2^(b-1),
    2^b-1]``; empty docs land in bucket 0) — integer arithmetic via
    ``bin()`` string length, bit-identical in any engine, unlike
    ``floor(log2(n))`` whose float rounding can disagree at exact powers
    of two. One narrow aggregation; the window for cumulative shares
    runs over ≤64 bucket rows.
    """
    stats = text_stats(docs).select("doc_id", "token_count")
    bucket = (
        F.when(F.col("token_count") <= 0, F.lit(0))
        .otherwise(F.length(F.bin("token_count")))
        .cast("int")
    )
    per = stats.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("token_count").cast("long").alias("tokens"),
    )
    lo = F.expr("CASE WHEN bucket = 0 THEN 0 ELSE shiftleft(1, bucket - 1) END")
    hi = F.expr("CASE WHEN bucket = 0 THEN 0 ELSE shiftleft(1, bucket) - 1 END")
    totals = Window.partitionBy()
    cum = Window.partitionBy().orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.select(
            "bucket",
            lo.cast("long").alias("bucket_lo"),
            hi.cast("long").alias("bucket_hi"),
            "docs",
            "tokens",
        )
        .withColumn("doc_share", F.col("docs") / F.sum("docs").over(totals))
        .withColumn("token_share", F.col("tokens") / F.sum("tokens").over(totals))
        .withColumn("cum_doc_share", F.sum("docs").over(cum) / F.sum("docs").over(totals))
        .orderBy("bucket")
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprints: exact md5, normalized md5 (case/whitespace
    folded), and a deterministic 48-bit content key for joins."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5("text").alias("md5_exact"),
        F.md5(normalized).alias("md5_normalized"),
        F.conv(F.substring(F.md5(normalized), 1, 12), 16, 10).cast("long").alias("content_key"),
    )


def repetition_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """Gopher-style repetition signal: the fraction of word n-grams that
    are repeats of an earlier n-gram in the same document (the single
    strongest boilerplate/spam indicator in published LLM data-quality
    rule sets — e.g. the repetition filters in the Gopher/MassiveText
    paper, Rae et al. 2021).

    Per-row array arithmetic only (no explode, no shuffle): build the
    n-gram list, compare its size against its distinct size. A map-only
    projection that scales embarrassingly."""
    base = docs.select("doc_id", words_col().alias("ws"))
    size = F.size("ws")
    idx = F.when(size >= n, F.sequence(F.lit(1), size - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    parts = ", ".join(f"element_at(ws, CAST(i AS INT) + {j})" for j in range(n))
    grams = F.expr(f"transform(idx, i -> concat_ws(' ', {parts}))")
    return (
        base.withColumn("idx", idx)
        .select(
            "doc_id",
            F.size(F.col("idx")).alias("total_ngrams"),
            F.size(F.array_distinct(grams)).alias("distinct_ngrams"),
        )
        .withColumn(
            "dup_ngram_ratio",
            F.when(
                F.col("total_ngrams") > 0,
                (F.col("total_ngrams") - F.col("distinct_ngrams"))
                / F.col("total_ngrams"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("is_repetitive", F.col("dup_ngram_ratio") > 0.2)
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16
) -> DataFrame:
    """Token-window document chunking — the doc→training-sample explode
    every LLM data pipeline runs before tokenization: fixed-size windows
    of ``chunk_tokens`` tokens with ``overlap`` tokens of context carried
    between consecutive chunks.

    Tokens come from the same BPE-ish ``TOKEN_REGEX`` the stats use;
    chunk text is the space-joined token slice (a deterministic,
    engine-portable normalization). Chunking is per-row compute + one
    explode into (doc_id, chunk_idx) rows — uniform-size units that
    repartition evenly downstream, which is the point: downstream
    tokenize/pack stages see bounded rows, never a 500-page outlier
    document.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    stride = chunk_tokens - overlap
    base = docs.select(
        "doc_id", F.regexp_extract_all("text", F.lit(TOKEN_REGEX), 0).alias("toks")
    )
    n = F.size("toks")
    # chunk starts: 0, stride, 2*stride, ... while start < n (so a doc
    # shorter than chunk_tokens still yields its single partial chunk;
    # an empty doc yields none)
    num_chunks = F.when(n > 0, F.ceil(n / F.lit(stride)).cast("int")).otherwise(F.lit(0))
    # drop a trailing window that would be pure overlap of the previous
    # one (start >= n - overlap with an earlier chunk already covering it)
    num_chunks = F.when(
        (num_chunks > 1) & ((num_chunks - 1) * stride + F.lit(overlap) >= n),
        num_chunks - 1,
    ).otherwise(num_chunks)
    chunk_structs = F.expr(
        f"transform(sequence(0, num_chunks - 1), c -> struct("
        f"c AS chunk_idx, "
        f"slice(toks, c * {stride} + 1, {chunk_tokens}) AS chunk_toks))"
    )
    return (
        base.withColumn("num_chunks", num_chunks)
        .filter(F.col("num_chunks") > 0)
        .select("doc_id", F.explode(chunk_structs).alias("ch"))
        .select(
            "doc_id",
            F.col("ch.chunk_idx").alias("chunk_idx"),
            F.size("ch.chunk_toks").alias("chunk_token_count"),
            F.array_join("ch.chunk_toks", " ").alias("chunk_text"),
        )
    )


def chunk_summary(docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16) -> DataFrame:
    """Oracle-friendly rollup of :func:`chunk_documents`: per-document
    chunk count, token totals, and bounds — verifies the chunking math
    without hashing megabytes of chunk text."""
    return (
        chunk_documents(docs, chunk_tokens, overlap)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("chunk_count"),
            F.sum("chunk_token_count").cast("long").alias("chunked_tokens"),
            F.max("chunk_token_count").cast("int").alias("max_chunk_tokens"),
            F.min("chunk_token_count").cast("int").alias("min_chunk_tokens"),
        )
        .orderBy("doc_id")
    )


# -- PII scrubbing -----------------------------------------------------------

#: Dialect-portable patterns (no backrefs/lookaheads — valid in both
#: Java regex and RE2, so engines and oracles agree).
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_REGEX = r"https?://[^\s]+"
PHONE_REGEX = r"(?:\+?[0-9]{1,3}[-. ]?)?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}"


def scrub_pii(docs: DataFrame) -> DataFrame:
    """PII redaction — the compliance pass every training corpus takes
    before release: emails, URLs, and phone numbers replaced with typed
    placeholder tokens, with per-document redaction counts kept for
    audit. Pure ``regexp_replace``/``regexp_count`` projections — JVM
    codegen, no shuffle, scales as a map-only pass.

    Order matters: emails are scrubbed BEFORE URLs so ``mailto:``-style
    strings can't be half-eaten by the URL pattern, and phones last so
    digits inside URLs are already gone.
    """
    email_n = F.regexp_count("text", F.lit(EMAIL_REGEX))
    url_n = F.regexp_count("text", F.lit(URL_REGEX))
    phone_n = F.regexp_count("text", F.lit(PHONE_REGEX))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_REGEX, "[EMAIL]"),
            URL_REGEX,
            "[URL]",
        ),
        PHONE_REGEX,
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        email_n.alias("email_count"),
        url_n.alias("url_count"),
        phone_n.alias("phone_count"),
        (email_n + url_n + phone_n).alias("redaction_count"),
        scrubbed.alias("scrubbed_text"),
    )


def plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically inject PII into a slice of the corpus so the
    scrubber has something real to remove (the synthetic documents are
    PII-free; same synthesize-from-doc_id pattern as
    ``multimodal.synthesize_media``): every 4th doc gains an email,
    every 12th additionally a URL, every 20th additionally a phone
    number, all derived from ``doc_id`` by string concatenation — so an
    oracle can rebuild the identical dirty text without sharing any
    code with the scrubber. Other docs pass through untouched.
    """
    did = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.when(
            did % 4 == 0,
            F.concat(F.lit(" Contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 12 == 0,
            F.concat(F.lit(" via https://example.org/u/"), did.cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            did % 20 == 0,
            F.concat(
                F.lit(" or (555) 010-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.withColumn("text", dirty)


def pii_redaction_report(docs: DataFrame) -> DataFrame:
    """Driver-contract query: plant deterministic PII
    (:func:`plant_pii`), scrub it (:func:`scrub_pii`), and emit one
    audit row per affected document — typed redaction counts plus the
    md5 of the scrubbed text, which proves the rewrite byte-for-byte
    without shipping the text anywhere (the same md5-evidence pattern as
    ``dedup.remove_duplicate_spans``). Map-only end to end: plant,
    scrub, and hash are all projections; the only exchange is the
    presentation sort.

    Reference parity: the reference pipeline has no PII pass at all —
    this is part of the LLM-training-data surface
    (compliance/redaction) the brief adds on top.
    """
    out = scrub_pii(plant_pii(docs))
    return (
        out.filter(F.col("redaction_count") > 0)
        .select(
            "doc_id",
            F.col("email_count").cast("long").alias("email_count"),
            F.col("url_count").cast("long").alias("url_count"),
            F.col("phone_count").cast("long").alias("phone_count"),
            F.col("redaction_count").cast("long").alias("redaction_count"),
            F.md5("scrubbed_text").alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


# -- sequence packing --------------------------------------------------------


def pack_chunks(
    chunks: DataFrame, budget: int = 256, num_groups: int = 8
) -> DataFrame:
    """Assign token chunks to fixed-budget training sequences (GPT-style
    packing: concatenate in a deterministic order, cut every ``budget``
    tokens — a chunk straddling a cut belongs to the sequence where it
    starts).

    Scale shape: a single global running sum would be one-partition
    sequential work; instead chunks are split into ``num_groups`` hash
    groups (``doc_id % num_groups`` — deterministic and engine-portable)
    and packed independently per group, so the cumulative-sum window
    parallelizes across groups. The only cost is per-group tail
    fragmentation: ≤ 1 partially-filled sequence per group.
    """
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("chunk_token_count").over(w), F.lit(0))
    return (
        chunks.withColumn("pack_group", F.pmod(F.col("doc_id"), F.lit(num_groups)))
        .withColumn("seq_start_offset", start.cast("long"))
        .withColumn("seq_id", F.floor(F.col("seq_start_offset") / F.lit(budget)).cast("long"))
    )


def pack_summary(
    docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16, budget: int = 256
) -> DataFrame:
    """Oracle-checkable rollup of the chunk→pack pipeline: per packed
    sequence, its chunk count, token total, and fill ratio vs budget."""
    packed = pack_chunks(chunk_documents(docs, chunk_tokens, overlap), budget)
    return (
        packed.groupBy("pack_group", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("chunk_count"),
            F.sum("chunk_token_count").cast("long").alias("seq_tokens"),
        )
        .withColumn("fill_ratio", F.col("seq_tokens") / F.lit(budget))
        .orderBy("pack_group", "seq_id")
    )


#: Percentile grid for :func:`doc_length_distribution`.
LENGTH_PERCENTILES = (0.25, 0.5, 0.75, 0.9, 0.99)


def doc_length_distribution(
    docs: DataFrame,
    percentiles: tuple[float, ...] = LENGTH_PERCENTILES,
    exact: bool = True,
) -> DataFrame:
    """Per-source document-size distribution profile: exact (or sketched)
    percentiles of character and word counts, plus deterministic means.

    Length distributions drive training-data curation decisions —
    truncation budgets, chunk sizing, the short-doc floor and the
    outlier ceiling — and a mean alone hides the skew those decisions
    care about, so the profile reports the quartiles and the p90/p99
    tail alongside.

    ``exact=True`` (default, the oracle-parity mode) uses ``percentile``,
    which buffers each group's values — fine per *source* (group count is
    tiny and values are ints) but the buffer is O(group size), so at
    corpus scale switch ``exact=False``: ``percentile_approx`` is a
    bounded-memory mergeable sketch (same switch the IQR outlier gate in
    ``quality.iqr_outlier_bounds`` documents; its approx-vs-exact
    bracketing is tested in ``tests/test_scale.py``). Counts are
    integers, so the means are exact long sums divided as doubles —
    bit-reproducible under any partitioning.
    """
    st = text_stats(docs).select("source", "char_count", "word_count")
    grid = F.array(*[F.lit(p) for p in percentiles])

    def perc(name: str) -> Column:
        col = F.col(name).cast("double")
        if exact:
            return F.percentile(col, grid)
        return F.percentile_approx(col, grid, 10_000)

    agg = st.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        perc("char_count").alias("cps"),
        perc("word_count").alias("wps"),
        F.sum("char_count").cast("double").alias("sum_chars"),
        F.sum("word_count").cast("double").alias("sum_words"),
    )
    out_cols = [F.col("source"), F.col("docs")]
    for i, p in enumerate(percentiles):
        tag = round(p * 100)
        out_cols.append(F.col("cps")[i].cast("double").alias(f"char_p{tag}"))
    for i, p in enumerate(percentiles):
        tag = round(p * 100)
        out_cols.append(F.col("wps")[i].cast("double").alias(f"word_p{tag}"))
    out_cols.append((F.col("sum_chars") / F.col("docs")).alias("avg_chars"))
    out_cols.append((F.col("sum_words") / F.col("docs")).alias("avg_words"))
    return agg.select(*out_cols).orderBy("source")


def language_mix_by_source(docs: DataFrame) -> DataFrame:
    """Per-source language composition from the heuristic identifier —
    the multilingual-corpus observable a mix planner consumes (is this
    crawl slice 90% English or 40%?).

    One aggregation over (source, predicted_lang) plus a source-total
    window for the integer per-mille share. Returns (source,
    predicted_lang, docs, docs_pm) ordered by (source, predicted_lang).
    """
    from pyspark.sql import Window

    pred = language_id(docs).select("doc_id", "predicted_lang")
    per = (
        docs.select("doc_id", "source")
        .join(pred, "doc_id")
        .groupBy("source", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("docs"))
    )
    tot = Window.partitionBy("source")
    return (
        per.withColumn("src_total", F.sum("docs").over(tot).cast("long"))
        .withColumn("docs_pm", F.expr("(docs * 1000) div src_total").cast("long"))
        .drop("src_total")
        .orderBy("source", "predicted_lang")
    )
