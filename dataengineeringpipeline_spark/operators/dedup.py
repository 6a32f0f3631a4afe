"""Corpus deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash.

Spark-first shapes, all built on DataFrame ops (no Python UDFs):

- **exact**: hash-groupBy on the md5 fingerprint — one shuffle.
- **n-gram Jaccard**: shingle → explode → self-join on shingle →
  per-pair intersection counts → Jaccard. The join key (shingle) is the
  classic inverted-index trick: only documents sharing at least one
  shingle ever meet, so the quadratic pair space is never materialized.
- **MinHash+LSH**: signature of K=32 universal-hash minima, banded 8×4;
  documents colliding in ≥1 band become candidates, then candidates are
  verified with exact shingle-set Jaccard. At 100 TB this is the
  scalable path: cost is O(docs × K) + band-bucket joins instead of
  O(docs²).
- **SimHash**: 32-bit majority-vote fingerprint; near-dup candidates from
  4×8-bit band collisions (pigeonhole: ≤3 flips leave ≥1 band clean, so
  Hamming ≤ 3 recall is 100%), verified by exact Hamming distance ≤ 3.

Hashing uses the md5-prefix word hash (:func:`..text.word_hash`) and pure
int64 modular arithmetic, so every stage — signatures included — is
bit-reproducible across engines, partitionings, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataengineeringpipeline_spark.cache import tracked_persist
from dataengineeringpipeline_spark.operators.text import word_hash, words_col
from dataengineeringpipeline_spark.scale import spread

#: Universal-hash modulus (prime > 1e9; products stay < 2^63).
MINHASH_P = 1_000_000_007
MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS = 4  # K = BANDS * ROWS
SIMHASH_BITS = 32
#: Document-frequency cap for the inverted-index Jaccard join: set
#: elements appearing in more than this many documents are dropped from
#: BOTH the join and the set sizes (Jaccard over the stop-filtered sets).
#: A shingle shared verbatim by hundreds of documents is boilerplate, and
#: its posting list joins quadratically (df=k → k²/2 join rows) — the
#: classic skew blowup on a 100 TB corpus. 256 is a no-op at the test
#: scales (max df: 7 at sf0.01, 25 at sf0.1) and bounds the worst single
#: key at ~32k join rows.
DEDUP_MAX_DF = 256


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per identical text; report group size.

    ``row_number`` over the md5 fingerprint partition — the partition key
    is high-cardinality so the window shuffle is well-spread (unlike the
    reference's global-window surrogate keys, SURVEY.md §4.2-1).
    """
    w = Window.partitionBy("md5_exact").orderBy("doc_id")
    return (
        docs.select("doc_id", F.md5("text").alias("md5_exact"))
        .withColumn("rank_in_group", F.row_number().over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(Window.partitionBy("md5_exact")).cast("long"))
        .filter(F.col("rank_in_group") == 1)
        .select("doc_id", "md5_exact", "group_size", (F.col("group_size") > 1).alias("had_duplicates"))
    )


# ---------------------------------------------------------------------------
# Word / shingle sets
# ---------------------------------------------------------------------------


def doc_word_hash_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, word_hash) pairs — the distinct word set of each document."""
    w = words_col()
    return (
        spread(docs, "doc_id").select("doc_id", F.explode(F.array_distinct(w)).alias("word"))
        .select("doc_id", word_hash(F.col("word")).alias("h"))
        .distinct()
    )


def doc_shingle_hash_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h) distinct shingle hashes — the standard shingling+hashing
    front end for MinHash/SimHash. Shingles are selective even on small
    vocabularies (word *sets* are not — see :func:`word_jaccard_pairs`).

    Derived from :func:`doc_shingle_hash_arrays` (one explode): rows are
    identical to hashing the exploded shingles directly — the array form
    is the same first-occurrence-distinct shingle list — and it rides
    the arrays' vectorized Arrow kernel."""
    return doc_shingle_hash_arrays(docs, n).select(
        "doc_id", F.explode("hs").alias("h")
    )


def _shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shs) — the distinct word-``n``-gram array per document,
    the pre-explode form both shingle consumers derive from.

    ``spread`` parallelizes the tokenize+shingle map on narrow inputs
    (single-file corpus → one scan partition); no-op at cluster scale.
    The corpus is projected to ``doc_id, text`` BEFORE the exchange so
    the repartition never ships unused document columns (guide §2.3).
    """
    base = spread(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", words_col().alias("ws")
    )
    size = F.size("ws")
    idx = F.when(size >= n, F.sequence(F.lit(1), size - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    parts = ", ".join(f"element_at(ws, CAST(i AS INT) + {j})" for j in range(n))
    shingles = F.expr(f"transform(idx, i -> concat_ws(' ', {parts}))")
    return base.withColumn("idx", idx).select(
        "doc_id", F.array_distinct(shingles).alias("shs")
    )


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams (default 3)."""
    return _shingle_arrays(docs, n).select("doc_id", F.explode("shs").alias("shingle"))


def doc_shingle_hash_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, hs) — each document's shingle-hash array, **map-only**
    (no explode, no shuffle): the scale-path front end for MinHash.
    Documents with no shingles (< ``n`` words) are dropped, matching the
    exploded form's implicit absence from any ``groupBy(doc_id)``.

    It runs as ONE ``mapInArrow`` batch kernel — tokenize, shingle,
    first-occurrence-distinct and the md5-prefix hash in a single
    Python pass over Arrow batches of just ``(doc_id, text)`` (guide §4.2: hand whole batches to native code;
    §2.3: project before the opaque op so the scan ships two columns).
    Bits are pinned to the JVM expression chain — Java-regex ``\\s``
    whitespace classes, space-only ``trim``, keep-trailing-empties
    split, first-occurrence ``array_distinct``, md5-prefix-48 hashing —
    and ``tests/test_operators.py`` asserts equality against the JVM
    chain on the edge-case corpus. Measured (fresh-process min-of-3 at
    sf0.1, 6 regime draws): 1.34-2.11x faster than the JVM chain, and
    immune to the host's slow-md5-regime draws that inflated the family
    2-4x in rounds 9-11 (Python kernel 0.54-1.41s where the JVM chain
    read 0.86-2.97s for identical work)."""
    return _shingle_hash_arrays_arrow(docs, n)


def _shingle_hash_arrays_arrow(
    docs: DataFrame, n: int, keep_empty: bool = False
) -> DataFrame:
    """mapInArrow body of :func:`doc_shingle_hash_arrays`.

    Semantics replicated bit-for-bit from the JVM chain:

    - ``trim`` strips SPACE (0x20) only — not tabs/newlines;
    - ``split(trim(text), '\\s+')`` uses Java's ASCII ``\\s`` class
      ``[ \\t\\n\\x0b\\f\\r]`` (NOT Python's unicode ``\\s``) with
      limit=-1 (leading match yields a leading empty string, trailing
      empties kept — ``re.split`` matches both behaviours);
    - shingles are ``concat_ws(' ', ...)`` over word n-grams, distinct
      by FIRST OCCURRENCE (``array_distinct`` order);
    - hash = first 48 bits of ``md5(utf8(shingle))`` as a long
      (== ``conv(substring(md5(s),1,12),16,10)``);
    - docs with fewer than ``n`` words (or NULL text) are dropped.

    ``doc_id`` passes through by Arrow filter, so its type is preserved
    verbatim whatever the caller's id column is.

    ``keep_empty=True`` keeps a row with ``hs = []`` for docs below
    ``n`` words (and NULL text) instead of dropping them — the
    unfiltered ``_shingle_arrays`` semantics ``boilerplate_stats``
    needs (short docs must report 0 total n-grams, not vanish).
    """
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    # Parallelize narrow inputs like ``spread`` but WITHOUT its persist:
    # ``mapInArrow`` is an optimizer barrier (nothing pushes through it
    # back onto the scan — the reason spread persists), it is the
    # exchange's only consumer, and callers persist the RESULT frame for
    # multi-branch reuse. A persist here would nest an InMemoryRelation
    # inside every caller's cache for no materialization saved.
    base = docs.select("doc_id", "text")
    target = docs.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target, F.col("doc_id"))
    out_schema = StructType(
        [base.schema["doc_id"], StructField("hs", ArrayType(LongType(), False), False)]
    )

    def kernel(batches):
        import re
        from hashlib import md5

        ws_split = re.compile(r"[ \t\n\x0b\f\r]+").split
        for b in batches:
            ids = b.column(0)
            texts = b.column(1).to_pylist()
            mask, out_hs = [], []
            for txt in texts:
                if txt is None:
                    mask.append(keep_empty)
                    if keep_empty:
                        out_hs.append([])
                    continue
                ws = ws_split(txt.strip(" "))
                if len(ws) < n:
                    mask.append(keep_empty)
                    if keep_empty:
                        out_hs.append([])
                    continue
                seen = set()
                add = seen.add
                hs = []
                ap = hs.append
                for j in range(len(ws) - n + 1):
                    sh = " ".join(ws[j : j + n])
                    if sh not in seen:
                        add(sh)
                        ap(int.from_bytes(md5(sh.encode("utf-8")).digest()[:6], "big"))
                mask.append(True)
                out_hs.append(hs)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.filter(pa.array(mask, pa.bool_())),
                    pa.array(out_hs, pa.list_(pa.int64())),
                ],
                ["doc_id", "hs"],
            )

    return base.mapInArrow(kernel, out_schema)


def _pairwise_jaccard(items: DataFrame, key: str, max_df: int | None = DEDUP_MAX_DF) -> DataFrame:
    """Generic set-similarity join: ``items`` = (doc_id, <key>) distinct.

    Inverted-index self-join on the set element, then
    ``J = |A∩B| / (|A| + |B| − |A∩B|)``. Sizes are joined in (broadcast at
    small scale; same-key shuffle join at 100 TB).

    ``max_df`` is the skew guard: elements whose posting list exceeds it
    are removed from the sets entirely (join AND sizes, so the Jaccard
    stays internally consistent — it is the exact Jaccard of the
    stop-filtered sets). Without it, one element shared by k documents
    contributes k²/2 join rows; heavy hitters are few by definition, so
    the anti-join side is broadcast. ``None`` disables the guard (oracle
    parity across engines applies the same cap, see
    ``oracles._jaccard_sql``).

    ``items`` feeds several plan branches (both self-join sides, the df
    agg, the size agg), so it is persisted for the duration of the
    query — the shingle/word explode behind it runs once instead of
    three-plus times."""
    items = tracked_persist(items)
    if max_df is not None:
        frequent = (
            items.groupBy(key)
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select(key)
        )
        items = items.join(F.broadcast(frequent), key, "left_anti")
    sizes = items.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    a = items.alias("a")
    b = items.alias("b")
    shared = (
        a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("set_size", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("set_size", "size_b"), "doc_b")
        .withColumn("jaccard", F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.4, max_df: int | None = DEDUP_MAX_DF
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard ≥ threshold.

    Shingles with document frequency > ``max_df`` are stop-filtered
    before the inverted-index join (skew guard — see
    :func:`_pairwise_jaccard`)."""
    return (
        _pairwise_jaccard(doc_shingles(docs, n), "shingle", max_df=max_df)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "size_a", "size_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def word_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.7, max_df: int | None = DEDUP_MAX_DF
) -> DataFrame:
    """Near-duplicate pairs by bag-of-words Jaccard ≥ threshold (coarser
    than shingles; catches reorderings).

    CAUTION at scale: on corpora with small shared vocabularies the
    inverted-index join degenerates toward all-pairs (every document
    shares words with every other) — the ``max_df`` guard drops those
    degenerate words, but prefer shingle-based similarity
    (:func:`ngram_jaccard_pairs`, :func:`minhash_lsh_pairs`) whose keys
    stay selective."""
    return (
        _pairwise_jaccard(doc_word_hash_sets(docs), "h", max_df=max_df)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "size_a", "size_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_params(j: int) -> tuple[int, int]:
    """Deterministic universal-hash coefficients for permutation ``j``
    (odd multiplier, fixed offset — reproducible everywhere)."""
    a = ((j + 1) * 2_654_435_761) % MINHASH_P
    a = a - a % 2 + 1
    b = ((j + 1) * 40_503 + 12_345) % MINHASH_P
    return a, b


def minhash_signatures(
    docs: DataFrame,
    k: int = MINHASH_K,
    hash_sets: DataFrame | None = None,
    hash_arrays: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature as K columns ``sig_0..sig_{K-1}``.

    ``sig_j = min over shingle hashes of (a_j·(h mod P) + b_j) mod P``.
    Default path: **map-only** — ``array_min(transform(hs, …))`` over the
    per-doc hash array (:func:`doc_shingle_hash_arrays`), zero shuffle;
    the arithmetic is identical to an aggregation over the exploded set
    (min is order-free), so signatures are partitioning-independent
    either way. At 100 TB this keeps the corpus text/hash bytes out of
    any exchange — the only shuffled artifacts downstream are the K-int
    signatures' band keys.

    ``hash_arrays`` lets a caller that already persisted the arrays feed
    them in; ``hash_sets`` accepts the legacy exploded (doc_id, h) form
    and aggregates it (one shuffle) — kept for callers that materialize
    the exploded set anyway.
    """
    if hash_sets is not None and hash_arrays is None:
        aggs = []
        for j in range(k):
            a, b = _minhash_params(j)
            aggs.append(
                F.min((F.lit(a) * (F.col("h") % MINHASH_P) + b) % MINHASH_P).alias(f"sig_{j}")
            )
        return hash_sets.groupBy("doc_id").agg(*aggs)
    arrays = doc_shingle_hash_arrays(docs) if hash_arrays is None else hash_arrays

    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * (h % MINHASH_P) + b) % MINHASH_P

    cols = []
    for j in range(k):
        a, b = _minhash_params(j)
        cols.append(F.array_min(F.transform("hs", perm(a, b))).alias(f"sig_{j}"))
    return arrays.select("doc_id", *cols)


def _band_hash(sig_cols: list[Column]) -> Column:
    """Combine r signature values into one band key (base-31 polynomial —
    int64-safe: values < 1e9, multipliers ≤ 31³)."""
    out = None
    for c in sig_cols:
        out = c if out is None else out * 31 + c
    return out


def minhash_bands(signatures: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> DataFrame:
    """(doc_id, band_idx, band_hash) — LSH banding of the signature.

    One explode over an inline band array rather than a union of
    per-band selects: a union duplicates the signature-aggregation
    subtree per band in the plan (only the exchange is reused), while
    the explode scans the signatures exactly once.
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                _band_hash([F.col(f"sig_{b * rows + r}") for r in range(rows)]).alias(
                    "band_hash"
                ),
            )
            for b in range(bands)
        ]
    )
    return signatures.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_hash"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    hash_arrays: DataFrame | None = None,
    ordered: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact
    **shingle-set** Jaccard (the same 3-gram shingle-hash sets the
    signatures are built from — NOT word-set Jaccard; ``size_a`` /
    ``size_b`` / ``jaccard`` are shingle-set statistics, which is the
    similarity the LSH banding probability model is calibrated against.
    Tune ``threshold`` in shingle-Jaccard terms).

    Candidates = pairs colliding in ≥1 band (≈ pairs with J ≥ ~0.47 for
    8×4 banding); each candidate is then verified exactly. The verify
    joins the (small, distinct) candidate pair set against the per-doc
    hash arrays — only candidate pairs pay the intersection cost.

    Plan shape at 100 TB: the hash arrays are built **map-only** (no
    explode, no exchange — :func:`doc_shingle_hash_arrays`) and persisted
    once for the two verify branches; signatures are a map-only
    projection of the same arrays; the only corpus-wide shuffle in the
    whole operator is the band self-join on ``(band_idx, band_hash)`` —
    8 int rows per doc. Candidate pairs are few by LSH construction, so
    they broadcast and the verify's array lookups stay map-side;
    ``shared`` is ``size(array_intersect(ha, hb))`` computed per pair
    (hash values are unique within a doc's array up to 48-bit collisions,
    the same assumption the exploded join-count form made). The persisted
    arrays are session-scoped; at 100 TB you'd materialize arrays and
    signatures to a lake table once per corpus snapshot instead.

    ``hash_arrays`` lets a caller that already persisted the per-doc
    arrays (e.g. :func:`minhash_recall`, whose exact side reads the same
    shingle hashes) feed them in, so the corpus is tokenized+shingled
    once per query instead of once per branch.

    ``ordered=False`` skips the final global sort — consumers that feed
    the pairs into joins/aggregations/connected-components pay a
    range-partitioning exchange (plus its sampling pass) for an ordering
    they immediately destroy; only callers that RETURN the pair list
    should keep the default.
    """
    arrays = (
        tracked_persist(doc_shingle_hash_arrays(docs)) if hash_arrays is None else hash_arrays
    )
    sigs = minhash_signatures(docs, hash_arrays=arrays)
    bands = minhash_bands(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    out = (
        candidates.join(
            arrays.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha")), "doc_a"
        )
        .join(
            arrays.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")), "doc_b"
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ha", "hb")).cast("long").alias("shared"),
            F.size("ha").cast("long").alias("size_a"),
            F.size("hb").cast("long").alias("size_b"),
        )
        .withColumn("jaccard", F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.orderBy("doc_a", "doc_b") if ordered else out


#: Below this many (undirected) edges the component graph is solved on
#: the driver — ~32 MB of longs at the bound, far under driver memory.
SMALL_GRAPH_EDGES = 2_000_000


def _driver_components(edge_rows: list) -> dict[int, int]:
    """Min-label union-find over collected edges (path compression +
    union-by-min). Same fixpoint as the distributed propagation: every
    node labeled with its component's minimum id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = find(r[0]), find(r[1])
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
    driver_threshold: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components over a candidate-pair graph — the
    pairs→clusters step every dedup pipeline needs before it can pick
    one canonical doc per duplicate group.

    Hybrid by graph size (the verified candidate graph is orders of
    magnitude smaller than the corpus, and usually driver-trivial):

    - ``≤ driver_threshold`` edges: collect and union-find on the driver
      (path compression, min-label roots). A 5000-doc corpus yields a
      few hundred pairs; paying multi-stage Spark rounds for that is
      pure scheduling overhead (measured 2.6s → ~0.1s at sf0.1).
    - larger: distributed min-label propagation — labels move one hop
      per round (rounds ≈ cluster diameter, 2-4 for dense near-dup
      clusters); each round is one equi-join + map-side min-agg, with
      ``localCheckpoint`` truncating the growing lineage. Raises if the
      fixpoint isn't reached — silently returning non-minimal labels
      would corrupt downstream canonical-doc selection.

    Both paths produce the identical labeling (component-minimum id),
    so the threshold only moves work, never answers.
    """
    # Both edge directions come from ONE explode over the pair row — a
    # union of (fwd, swapped) would duplicate the entire upstream
    # candidate-generation subtree in the plan (Catalyst shares
    # exchanges, not arbitrary subtrees; measured: the LSH chain ran
    # twice, 3.2s vs 1.8s at sf0.1).
    fwd = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    edges = (
        fwd.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                    F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
                )
            ).alias("e")
        )
        .select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
    )
    # The candidate-generation chain runs ONCE: persist the edge list,
    # count it (the one full execution — map-side partial counts, cheap
    # final), and branch on the size. The previous
    # limit(threshold+1).collect() probe looked like one job but
    # CollectLimit's partition escalation (1 → 4 → 16 → … attempts,
    # spark.sql.limit.scaleUpFactor) re-ran the chain's final stages
    # per attempt whenever the graph was SMALL — the common case, since
    # verified near-dup graphs are corpus-tiny — costing every CC
    # consumer (dup clusters, survivors, entity resolution, the corpus
    # funnel, hybrid/semantic clusters) 3 extra partial executions
    # (profiled: 4 × 0.73 s probe jobs inside one funnel run at sf0.1).
    # The small-graph collect is served from the persist (no recompute,
    # driver transfer still ≤ threshold rows + 1 by the count guard),
    # and the big-graph path needs the persisted edges anyway.
    edges = edges.persist()
    n_edges = edges.select(F.count(F.lit(1))).first()[0]
    if n_edges <= driver_threshold:
        try:
            probe = edges.collect()
        finally:
            edges.unpersist()
        labels = _driver_components(probe)
        spark = pairs.sparkSession
        return spark.createDataFrame(
            sorted(labels.items()), "doc_id bigint, cluster_id bigint"
        )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("doc_id"), F.col("src").alias("cluster_id")
    ).localCheckpoint()
    # Labels only ever decrease, so Σlabels strictly decreases until the
    # fixpoint — an O(1)-row convergence probe (no per-iteration join).
    label_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    try:
        for _ in range(max_iterations):
            nbr = (
                edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            labels = (
                labels.join(nbr, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias(
                        "cluster_id"
                    ),
                )
                .localCheckpoint()
            )
            new_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
            if new_sum == label_sum:
                return labels
            label_sum = new_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )
    finally:
        edges.unpersist()


def minhash_dup_clusters(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Duplicate clusters from verified MinHash-LSH pairs: each doc in a
    near-dup group labeled with the group's min doc id (= the canonical
    survivor a keep-one dedup would retain) and the group size."""
    comp = connected_components(minhash_lsh_pairs(docs, threshold, ordered=False))
    size_w = Window.partitionBy("cluster_id")
    return (
        comp.withColumn("cluster_size", F.count(F.lit(1)).over(size_w).cast("long"))
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


def hybrid_dup_clusters(
    docs: DataFrame,
    embeddings: DataFrame,
    text_threshold: float = 0.5,
    cos_threshold: float = 0.35,
) -> DataFrame:
    """Duplicate clusters from the UNION of lexical and semantic
    near-dup evidence: a pair is an edge if the documents share surface
    form (MinHash-LSH-verified shingle Jaccard ≥ ``text_threshold``) OR
    meaning (hyperplane-LSH-bucketed embedding cosine ≥
    ``cos_threshold``). Paraphrases that lexical dedup misses and
    boilerplate variants that embedding dedup misses both collapse into
    one cluster — the evidence union every production training-data
    dedup runs. ``docs.doc_id`` and ``embeddings.vec_id`` must share an
    id space (the embedding of document *i* is vector *i*).

    Scale shape: both pair generators are the bucketed (never
    all-pairs) paths documented on their operators; the union is a
    dedup over the (small) verified edge lists; clustering is the
    shared hybrid CC kernel.
    """
    # function-local import: similarity imports this module's CC kernel
    from dataengineeringpipeline_spark.operators.similarity import embedding_near_dups

    text_pairs = minhash_lsh_pairs(docs, text_threshold, ordered=False).select(
        "doc_a", "doc_b"
    )
    sem_pairs = embedding_near_dups(embeddings, cos_threshold, ordered=False).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    pairs = text_pairs.unionByName(sem_pairs).distinct()
    comp = connected_components(pairs)
    size_w = Window.partitionBy("cluster_id")
    return (
        comp.withColumn("cluster_size", F.count(F.lit(1)).over(size_w).cast("long"))
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


def minhash_recall(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """LSH banding recall gauge: verified MinHash-LSH pairs vs ALL exact
    shingle-set Jaccard ≥ ``threshold`` pairs — the dedup twin of
    ``similarity.ann_ivf_recall``. Banding only *misses* (verification
    re-checks exact Jaccard, so precision is 1 by construction); the
    recall number is what you tune bands×rows against.

    The exact side is the full inverted-index pairwise pass (no
    frequent-shingle cap — the ground truth must not drop pairs), so
    this gauge costs what :func:`ngram_jaccard_pairs` costs; run it on a
    sample at corpus scale.

    Both sides read ONE persisted per-doc hash-array pass: the exact
    side explodes the cached arrays (cheap — no re-tokenization) and the
    LSH side consumes them directly, so the tokenize+shingle map — the
    dominant per-row cost — runs once per gauge instead of twice.
    """
    arrays = tracked_persist(doc_shingle_hash_arrays(docs))
    exact = tracked_persist(
        _pairwise_jaccard(
            arrays.select("doc_id", F.explode("hs").alias("h")), "h", max_df=None
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
    )
    lsh = minhash_lsh_pairs(
        docs, threshold, hash_arrays=arrays, ordered=False
    ).select("doc_a", "doc_b")
    hits = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("exact_pairs"))
        .join(lsh.agg(F.count(F.lit(1)).alias("lsh_pairs")))
        .join(hits.agg(F.count(F.lit(1)).alias("hit_pairs")))
        .select(
            "exact_pairs",
            "lsh_pairs",
            "hit_pairs",
            F.when(
                F.col("exact_pairs") > 0, F.col("hit_pairs") / F.col("exact_pairs")
            ).alias("recall"),
        )
    )


def dedup_survivors(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Quality-weighted survivor selection: within each near-dup cluster,
    keep the highest-quality doc (ties → lowest doc id) — the "which copy
    feeds the training set" decision that completes a dedup pipeline
    (candidates → verify → cluster → select).

    The quality pass touches only docs that appear in clusters: the
    cluster labels (tiny — near-dup members only) are persisted and
    broadcast-semi-joined into the corpus BEFORE ``text_stats``, so the
    regex-heavy stats map runs over cluster members instead of the whole
    corpus (a join placed after the projection would still evaluate the
    stats for every row — Catalyst pushes predicates below projections,
    not joins). The survivor pick is a per-cluster window over those few
    rows — the full corpus never re-shuffles.
    """
    from dataengineeringpipeline_spark.operators.text import quality_score, text_stats

    clusters = tracked_persist(minhash_dup_clusters(docs, threshold))
    clustered_docs = docs.join(
        F.broadcast(clusters.select("doc_id")), "doc_id", "left_semi"
    )
    quality = quality_score(text_stats(clustered_docs)).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return (
        clusters.join(quality, "doc_id")
        .withColumn("pick", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "quality_score",
            (F.col("pick") == 1).alias("is_survivor"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """32-bit SimHash per document: bit b is set when the majority of the
    document's shingle hashes have bit b set. Explode + conditional sums —
    codegen-friendly, one shuffle."""
    hashes = doc_shingle_hash_sets(docs)
    aggs = [
        F.sum(F.when(F.expr(f"(h div {1 << b}) % 2") == 1, 1).otherwise(-1)).alias(f"_b{b}")
        for b in range(bits)
    ]
    wide = hashes.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return wide.select("doc_id", sim.cast("long").alias("simhash"))


SIMHASH_BANDS = 4  # pigeonhole guarantee for Hamming ≤ 3: ≥1 clean band


def simhash_dup_candidates(
    docs: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Near-duplicate pairs with Hamming(simhash) ≤ max_hamming.

    Banding into 4 equal pieces: ≤3 bit flips across 4 bands leave at
    least one band untouched (pigeonhole), so every Hamming ≤ 3 pair is
    guaranteed to collide in some band — 100% recall, verified by the
    exact ``bit_count(xor)`` filter. Bucket selectivity scales with band
    width: the default 32-bit signature gives 8-bit bands (256 buckets —
    fine to ~10⁶ docs); pass ``bits=48`` (the full word-hash width) for
    12-bit bands (4096 buckets per band, 16× fewer collisions) on real
    corpora — Manku et al.'s rotated-table scheme at 64 bits is the next
    step up and needs a wider base hash.
    """
    if bits % SIMHASH_BANDS:
        raise ValueError(f"bits={bits} must divide into {SIMHASH_BANDS} equal bands")
    width = bits // SIMHASH_BANDS
    sigs = simhash_signatures(docs, bits=bits)
    # Explode the bands into rows so candidate generation is a plain
    # equi-join on (band_idx, band_val) — an OR of band-matches would
    # force a nested-loop join, which dies at scale. One explode scans
    # the signatures once (vs a 4-way union re-reading them per band).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                (F.expr(f"simhash div {1 << (width * b)}") % (1 << width)).alias("band_val"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    bands = sigs.select("doc_id", "simhash", F.explode(band_structs).alias("band")).select(
        "doc_id", "simhash", "band.band_idx", "band.band_val"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("simhash_a"),
            F.col("b.simhash").alias("simhash_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(simhash_a ^ simhash_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a materialized signature snapshot
# ---------------------------------------------------------------------------


def materialize_signatures(docs: DataFrame, lake, snapshot: str = "sig1") -> dict[str, str]:
    """Write the corpus's dedup state — per-doc shingle-hash arrays and
    LSH band keys — to gold tables, so future increments match against
    the STORED state instead of re-reading (or re-shingling) the
    existing corpus. This is the incremental-ingestion answer the
    module docstrings promise at 100 TB: signature tables grow by the
    increment size only, and the corpus text is touched exactly once,
    at its own ingestion time.

    Returns ``{"arrays": path, "bands": path}``.
    """
    arrays = tracked_persist(doc_shingle_hash_arrays(docs))
    bands = minhash_bands(minhash_signatures(docs, hash_arrays=arrays))
    return {
        "arrays": lake.write(arrays, "gold", f"dedup_{snapshot}_arrays"),
        "bands": lake.write(bands, "gold", f"dedup_{snapshot}_bands"),
    }


def match_increment(
    new_ids: DataFrame,
    new_arrays: DataFrame,
    new_bands: DataFrame,
    old_arrays: DataFrame,
    old_bands: DataFrame,
    threshold: float = 0.5,
    ordered: bool = True,
    distinct_candidates: bool = True,
    order_col: str | None = None,
) -> DataFrame:
    """Match an increment's signatures against stored dedup state — the
    shared kernel of :func:`incremental_dedup` (batch) and
    ``streaming.stream_incremental_dedup``. Candidates come from the
    band equi-join (8 int rows per doc on both sides), verification is
    exact array-intersect Jaccard against the stored arrays, and each
    new doc reports its best match (highest Jaccard, ties to the lowest
    existing id). Returns ``(doc_id, dup_of, jaccard, is_duplicate)``
    for every id in ``new_ids``; ``ordered=False`` skips the final sort
    for consumers that write the decisions to a table and re-order on
    read (the streaming state writer).

    ``distinct_candidates=False`` drops the candidate-dedup shuffle: a
    pair colliding in several bands is verified once per collision (≤
    ``LSH_BANDS``× fan-out), but every duplicate row carries the
    identical (dup_of, jaccard), so the per-doc best-match window
    collapses them and the OUTPUT is unchanged. Right when the arrays
    are small relative to a whole shuffle stage's scheduling cost (the
    per-micro-batch streaming path); keep the default when stored
    arrays are large enough that re-verifying costs more than the
    distinct.

    ``order_col`` (when given) names an integer column present on BOTH
    band tables: a candidate only counts when its order value is
    strictly below the new doc's — the sequential "matched against
    strictly earlier arrivals" contract computed in ONE join instead of
    one join per arrival batch (``streaming.
    stream_incremental_dedup_ordered``'s single-drain path; stored
    state rides with order ``-1``)."""
    cond = (F.col("n.band_idx") == F.col("o.band_idx")) & (
        F.col("n.band_hash") == F.col("o.band_hash")
    )
    if order_col is not None:
        cond = cond & (F.col(f"o.{order_col}") < F.col(f"n.{order_col}"))
    cand = (
        new_bands.alias("n")
        .join(old_bands.alias("o"), cond)
        .select(F.col("n.doc_id").alias("doc_id"), F.col("o.doc_id").alias("dup_of"))
    )
    if distinct_candidates:
        cand = cand.distinct()
    verified = (
        cand.join(new_arrays.select("doc_id", F.col("hs").alias("ha")), "doc_id")
        .join(
            old_arrays.select(F.col("doc_id").alias("dup_of"), F.col("hs").alias("hb")),
            "dup_of",
        )
        .select(
            "doc_id",
            "dup_of",
            (
                F.size(F.array_intersect("ha", "hb"))
                / (
                    F.size("ha")
                    + F.size("hb")
                    - F.size(F.array_intersect("ha", "hb"))
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("dup_of"))
    matches = (
        verified.withColumn("pick", F.row_number().over(best))
        .filter(F.col("pick") == 1)
        .select("doc_id", "dup_of", "jaccard")
    )
    out = new_ids.join(matches, "doc_id", "left").select(
        "doc_id", "dup_of", "jaccard", F.col("dup_of").isNotNull().alias("is_duplicate")
    )
    return out.orderBy("doc_id") if ordered else out


def incremental_dedup(
    new_docs: DataFrame,
    spark,
    lake,
    snapshot: str = "sig1",
    threshold: float = 0.5,
    append: bool = True,
) -> DataFrame:
    """Match NEW documents against a materialized signature snapshot and
    (by default) fold them into it — the arriving-batch half of a
    production dedup pipeline.

    Plan shape: the increment's band keys equi-join the stored band
    table (shuffle bounded by the 8-ints-per-doc band rows on BOTH
    sides — corpus text and hash arrays never enter the exchange);
    candidates verify with exact ``array_intersect`` Jaccard against the
    stored arrays, joined by doc id. Each new doc reports its best match
    (highest Jaccard, ties to the lowest existing id).

    Returns ``(doc_id, dup_of, jaccard, is_duplicate)`` — one row per
    new doc; ``dup_of``/``jaccard`` NULL for unique docs. Intra-batch
    duplicates are a separate (cheap, increment-sized) concern: run
    :func:`minhash_lsh_pairs` on ``new_docs`` alongside.

    ``append=True`` writes the increment's arrays+bands into the
    snapshot tables so the next increment sees this one — dup detection
    state stays O(corpus signatures), never O(corpus text).
    """
    new_arrays = tracked_persist(doc_shingle_hash_arrays(new_docs))
    new_bands = minhash_bands(minhash_signatures(new_docs, hash_arrays=new_arrays))
    old_bands = lake.read(spark, "gold", f"dedup_{snapshot}_bands")
    old_arrays = lake.read(spark, "gold", f"dedup_{snapshot}_arrays")
    out = match_increment(
        new_docs.select("doc_id"), new_arrays, new_bands, old_arrays, old_bands, threshold
    )
    if append:
        lake.write(new_arrays, "gold", f"dedup_{snapshot}_arrays", mode="append")
        lake.write(new_bands, "gold", f"dedup_{snapshot}_bands", mode="append")
    return out


# ---------------------------------------------------------------------------
# Substring-level exact dedup (duplicate-span coverage)
# ---------------------------------------------------------------------------

#: Character width of a duplicate-span window. Public substring-dedup
#: recipes (Lee et al. 2022, "Deduplicating Training Data Makes Language
#: Models Better") use ~50 tokens; the fixture corpus has ~300-char
#: documents, where 40 chars (~6 words) is the equivalent granularity.
SPAN_WINDOW = 40
#: Stride between window starts. A stride below the window overlaps
#: consecutive windows so a duplicated region is covered end-to-end at
#: 1/stride the window count of the fully-dense slide.
SPAN_STRIDE = 10


def duplicate_span_coverage(
    docs: DataFrame,
    window: int = SPAN_WINDOW,
    stride: int = SPAN_STRIDE,
) -> DataFrame:
    """Substring-level exact dedup: per-document coverage by character
    spans that occur (verbatim) more than once anywhere in the corpus.

    Doc-level dedup (exact/MinHash/SimHash above) misses the classic
    contamination mode where *parts* of documents repeat — quoted
    passages, templated paragraphs, licence blocks spliced into
    otherwise-unique pages. The public recipe (Lee et al. 2022) finds
    exact duplicated substrings and removes or down-weights them; this
    operator computes its decision input: for every document, how much
    of it is covered by corpus-repeated spans.

    Mechanics: slide a ``window``-char window with ``stride`` over each
    document (map-only: a position ``sequence`` + ``transform`` hash of
    each ``substr`` — the same no-explode front end MinHash uses); a
    window hash seen ≥ 2 times corpus-wide (another document OR another
    position of the same document — self-repetition is repetition) marks
    its span duplicated; per document, overlapping/adjacent duplicated
    spans are merged (gaps-and-islands over start position) and the
    union's character length is reported.

    Returns ``(doc_id, doc_chars, total_windows, dup_windows, dup_chars,
    dup_char_ratio)`` for every document; documents shorter than
    ``window`` report 0 windows and ratio 0 (nothing repeated at span
    granularity, vacuously).

    Scale shape (100 TB): the window-hash front end is map-only; the
    duplicate-hash set is derived with one shuffle keyed by the 48-bit
    span hash (high-cardinality, well spread) and is never *assumed*
    broadcastable (no hint — its size is corpus-dependent, unlike the
    bounded boilerplate frequent set; AQE may still pick a broadcast
    join when the measured set is small, which is the right call) —
    marking is an equi-join on that same hash, linear in window
    count because the duplicate side carries one row per hash. The
    island merge shuffles only the *duplicated* spans, keyed by doc_id.
    A span repeated across millions of documents (boilerplate) costs one
    join-probe row per occurrence — never quadratic.
    """
    base = spread(docs, "doc_id").select(
        "doc_id",
        F.length("text").alias("doc_chars"),
        F.when(
            F.length("text") >= window,
            F.sequence(F.lit(1), F.length("text") - window + 1, F.lit(stride)),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("ps"),
        "text",
    )
    hashed = tracked_persist(
        base.select(
            "doc_id",
            "doc_chars",
            "ps",
            F.transform(
                "ps", lambda p: word_hash(F.substr("text", p, F.lit(window)))
            ).alias("whs"),
        )
    )
    wins = hashed.select(
        "doc_id", F.explode(F.arrays_zip("ps", "whs")).alias("z")
    ).select("doc_id", F.col("z.ps").alias("pos"), F.col("z.whs").alias("h"))
    dup_hashes = (
        wins.groupBy("h").agg(F.count(F.lit(1)).alias("occ")).filter(F.col("occ") >= 2).select("h")
    )
    spans = wins.join(dup_hashes, "h").select(
        "doc_id", "pos", (F.col("pos") + window - 1).alias("end")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        spans.withColumn(
            "new_island",
            F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(wd))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            F.max("end").alias("e"),
            F.count(F.lit(1)).alias("w"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("e") - F.col("s") + 1).alias("dup_chars"),
            F.sum("w").alias("dup_windows"),
        )
    )
    return (
        hashed.select("doc_id", "doc_chars", F.size("ps").alias("total_windows"))
        .join(islands, "doc_id", "left")
        .select(
            "doc_id",
            F.col("doc_chars").cast("long").alias("doc_chars"),
            F.col("total_windows").cast("long").alias("total_windows"),
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
            F.when(
                F.col("doc_chars") > 0,
                F.coalesce("dup_chars", F.lit(0)) / F.col("doc_chars"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_char_ratio"),
        )
    )

def remove_duplicate_spans(
    docs: DataFrame,
    window: int = SPAN_WINDOW,
    stride: int = SPAN_STRIDE,
) -> DataFrame:
    """Apply substring dedup: delete every character covered by a
    corpus-repeated span and return the cleaned text — the *removal*
    step of the Lee-et-al.-2022 recipe whose decision input
    :func:`duplicate_span_coverage` computes and whose attribution
    :func:`shared_span_pairs` gives.

    The duplicated-island set is derived exactly as in the coverage
    operator (window hashes seen ≥ 2 anywhere, merged
    gaps-and-islands); the kept text is the concatenation of the
    complement segments, rebuilt with ONE ``aggregate`` expression over
    each document's sorted island array — no per-segment explode, no
    Python. Returns ``(doc_id, doc_chars, removed_chars, kept_chars,
    cleaned_md5)``; ``cleaned_md5`` is the md5 of the cleaned text, so
    the result is bit-checkable against any engine without shipping the
    text itself. Documents with no duplicated spans keep their full
    text (md5(text)); a fully-covered document cleans to the empty
    string (md5("") = d41d8...).

    Scale shape: identical to the coverage operator (map-only hash
    front end, one hash-keyed shuffle for the duplicate set, islands
    shuffled by doc_id) plus one broadcast-or-shuffle join of the tiny
    per-doc island arrays back to the corpus — text still never enters
    an exchange.
    """
    base = spread(docs, "doc_id").select(
        "doc_id",
        F.length("text").alias("doc_chars"),
        F.when(
            F.length("text") >= window,
            F.sequence(F.lit(1), F.length("text") - window + 1, F.lit(stride)),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("ps"),
        "text",
    )
    hashed = tracked_persist(
        base.select(
            "doc_id",
            "doc_chars",
            "text",
            F.transform(
                "ps", lambda p: word_hash(F.substr("text", p, F.lit(window)))
            ).alias("whs"),
            "ps",
        )
    )
    wins = hashed.select(
        "doc_id", F.explode(F.arrays_zip("ps", "whs")).alias("z")
    ).select("doc_id", F.col("z.ps").alias("pos"), F.col("z.whs").alias("h"))
    dup_hashes = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("h")
    )
    spans = wins.join(dup_hashes, "h").select(
        "doc_id", "pos", (F.col("pos") + window - 1).alias("end")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        spans.withColumn(
            "new_island",
            F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(wd))
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("isl"))
    )
    joined = hashed.select("doc_id", "doc_chars", "text").join(
        islands, "doc_id", "left"
    )
    # Rebuild the kept text in one pass over the sorted islands: the
    # accumulator carries (last covered end, kept-so-far); each island
    # appends the gap before it; finish appends the tail after the last.
    cleaned = F.when(F.col("isl").isNull(), F.col("text")).otherwise(
        F.aggregate(
            "isl",
            F.struct(F.lit(0).alias("last"), F.lit("").alias("acc")),
            lambda a, i: F.struct(
                i["e"].alias("last"),
                F.concat(
                    a["acc"],
                    F.substr(
                        "text", a["last"] + 1, i["s"] - F.lit(1) - a["last"]
                    ),
                ).alias("acc"),
            ),
            lambda a: F.concat(
                a["acc"],
                F.substr("text", a["last"] + 1, F.col("doc_chars") - a["last"]),
            ),
        )
    )
    return (
        joined.select(
            "doc_id",
            F.col("doc_chars").cast("long").alias("doc_chars"),
            cleaned.alias("cleaned"),
        )
        .select(
            "doc_id",
            "doc_chars",
            (F.col("doc_chars") - F.length("cleaned")).cast("long").alias(
                "removed_chars"
            ),
            F.length("cleaned").cast("long").alias("kept_chars"),
            F.md5("cleaned").alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


#: Pairing guard for cross-document span matching: a span hash present
#: in more than this many DISTINCT documents is boilerplate (licence
#: blocks, templates) and is excluded from pair generation — the same
#: posting-list cap economics as DEDUP_MAX_DF; boilerplate itself is
#: the boilerplate_report operator's job.
SPAN_PAIR_MAX_DF = 64


def shared_span_pairs(
    docs: DataFrame,
    window: int = SPAN_WINDOW,
    stride: int = SPAN_STRIDE,
    min_windows: int = 2,
    max_df: int = SPAN_PAIR_MAX_DF,
) -> DataFrame:
    """Cross-document verbatim-span pairs: which document pairs share
    exact ``window``-char substrings, and how many.

    :func:`duplicate_span_coverage` answers "how much of each document
    repeats somewhere"; this answers "*with whom*" — the pair evidence a
    contamination audit or quote-detection pass needs (e.g. a benchmark
    answer pasted into a training page shares a run of consecutive
    windows with the benchmark doc while their word-shingle Jaccard
    stays far below any dedup threshold).

    Mechanics: the same map-only sliding-window hash front end as the
    coverage operator, collapsed to one row per (document, span hash)
    with the hash's first position; hashes in more than ``max_df``
    distinct documents are dropped (boilerplate guard — see
    :data:`SPAN_PAIR_MAX_DF`); the remaining postings self-join on the
    hash (df-capped, never quadratic in the corpus) and aggregate per
    pair. Returns ``(doc_a, doc_b, shared_windows, min_pos_a,
    min_pos_b)`` for pairs sharing ≥ ``min_windows`` distinct span
    hashes, ordered by (doc_a, doc_b).

    Scale shape (100 TB): one shuffle keyed by the 48-bit span hash to
    build the per-doc posting rows, one df-capped hash self-join (worst
    fan-out ``max_df``² per hash, a constant), one pair aggregation.
    Document text never enters an exchange.
    """
    base = spread(docs, "doc_id").select(
        "doc_id",
        F.when(
            F.length("text") >= window,
            F.sequence(F.lit(1), F.length("text") - window + 1, F.lit(stride)),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("ps"),
        "text",
    )
    wins = (
        base.select(
            "doc_id",
            F.explode(
                F.transform(
                    "ps",
                    lambda p: F.struct(
                        p.alias("pos"),
                        word_hash(F.substr("text", p, F.lit(window))).alias("h"),
                    ),
                )
            ).alias("z"),
        )
        .select("doc_id", F.col("z.pos").alias("pos"), F.col("z.h").alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.min("pos").alias("pos"))
    )
    wins = tracked_persist(wins)
    keep = wins.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= max_df
    ).select("h")
    posts = wins.join(keep, "h")
    a, b = posts.alias("a"), posts.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_windows"),
            F.min("a.pos").cast("int").alias("min_pos_a"),
            F.min("b.pos").cast("int").alias("min_pos_b"),
        )
        .filter(F.col("shared_windows") >= min_windows)
        .orderBy("doc_a", "doc_b")
    )


def source_overlap_matrix(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Cross-source duplication matrix: how many verified near-dup pairs
    link each (unordered) pair of sources — the corpus-curation report
    that answers "which of my feeds are mirroring each other" (high
    off-diagonal mass means two crawls cover the same sites; high
    diagonal mass means a feed re-publishes itself). Drives per-source
    dedup priorities and acquisition decisions.

    Built on the verified :func:`minhash_lsh_pairs` output. The pair set
    is small by LSH construction, so it broadcasts against the corpus's
    (doc_id, source) projection — the document table is never shuffled
    here — and the matrix itself is at most |sources|² rows. Jaccard
    extremes are min/max (order-independent), NOT averages, so every
    column stays bit-exact.

    Returns (source_a, source_b, dup_pairs, min_jaccard, max_jaccard)
    with ``source_a <= source_b``, ordered by the pair.
    """
    # persist the verified pairs: BOTH broadcast materializations below
    # sit above them (the second one re-derives the first join), and
    # without the persist each broadcast re-executes the whole
    # LSH→verify chain (measured 11.3s → ~2s at sf0.1)
    pairs = tracked_persist(minhash_lsh_pairs(docs, threshold, ordered=False))
    ids = docs.select("doc_id", "source")
    # broadcast the pair side at every step (it stays pair-sized); the
    # corpus-sized (doc_id, source) projection is only ever scanned
    half = F.broadcast(pairs).join(
        ids.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"),
        "doc_a",
    )
    joined = F.broadcast(half).join(
        ids.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"),
        "doc_b",
    )
    return (
        joined.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dup_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )
