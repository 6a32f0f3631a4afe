"""Scale strategies made concrete: bucketing, salting, approx variants.

These are the knobs the engine reaches for when the default plan stops
holding at 100 TB (SURVEY.md §4, task brief "Partitioning & shuffle"):

- **Bucketed co-located joins** — pre-shuffle both fact tables into the
  same bucket layout on the join key at write time; joins between them
  then run with NO exchange (verified by test: the physical plan has no
  Exchange above either scan). This is the Spark-native form of the
  reference's partitioned-layout discipline, applied to join keys
  instead of dates. Worth it for fact-fact joins repeated across many
  queries; useless for one-shot joins (you pay the shuffle at write).
- **Salted aggregation** — two-stage aggregate for skewed keys: partial
  aggregate on ``(key, salt)`` spreads a hot key over N tasks, the final
  aggregate on ``key`` combines N partials. AQE's skew-join splitting
  handles *join* skew automatically; aggregate skew on a hot grouping
  key still needs salting.
- **Approx variants** — ``approx_count_distinct`` (HLL++) and
  ``approx_percentile`` swap exact distincts/quantiles for fixed-memory
  sketches. Exact ``countDistinct`` on a 100 TB key column shuffles
  every distinct value; the sketch ships KBs per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on the join key.

    Both sides of a co-located join must use the same ``num_buckets``
    and key. Bucketing is a catalog feature — the layout lives in the
    table metadata, so readers must come through ``spark.table``.
    ``path`` makes it an external table (data outside the warehouse dir,
    which is static config and cannot be retargeted at runtime).
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: str | list[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed catalog tables — no exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
    salt_buckets: int = 16,
    salt_source: Column | None = None,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs`` maps output alias → one of ``count | sum | min | max``
    (the decomposable aggregates: partials combine losslessly — sums
    re-sum, counts re-sum, min/max re-min/max). ``salt_source`` defaults
    to a deterministic hash of all columns, spreading each hot key's rows
    uniformly without an RNG (reproducible plans).
    """
    supported = {"count", "sum", "min", "max"}
    bad = {fn for fn in aggs.values() if fn.split(":")[0] not in supported}
    if bad:
        raise ValueError(f"non-decomposable aggregate(s) {sorted(bad)}; use count/sum/min/max")

    # pmod, not abs(hash) % n: abs(Int.MIN_VALUE) overflows under ANSI
    # mode (default in Spark 4) — ~1 in 2^32 rows would kill the job.
    salt = F.pmod(
        salt_source if salt_source is not None else F.hash(*df.columns), F.lit(salt_buckets)
    )

    partial_aggs, final_aggs = [], []
    for alias, spec in aggs.items():
        fn, _, col = spec.partition(":")
        col = col or alias
        p_alias = f"_p_{alias}"
        if fn == "count":
            partial_aggs.append(F.count(F.lit(1) if col == "*" else F.col(col)).alias(p_alias))
            final_aggs.append(F.sum(p_alias).alias(alias))
        elif fn == "sum":
            partial_aggs.append(F.sum(F.col(col).cast("decimal(27,2)")).alias(p_alias))
            final_aggs.append(F.sum(p_alias).cast("double").alias(alias))
        else:  # min / max
            partial_aggs.append(getattr(F, fn)(col).alias(p_alias))
            final_aggs.append(getattr(F, fn)(p_alias).alias(alias))

    partial = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt").agg(*partial_aggs)
    return partial.groupBy(*key_cols).agg(*final_aggs)


def spread(df: DataFrame, *cols: str, target: int | None = None) -> DataFrame:
    """Raise a narrow input's parallelism to the session default before
    CPU-heavy per-row work (regex chains, shingle explodes, chunking).

    A single small parquet file scans as ONE partition, serializing every
    downstream map on one core even on a 32-core executor — the dominant
    cost of the corpus funnel on compact inputs. ``spread`` repartitions
    only when the input has fewer partitions than ``target`` (default
    ``sc.defaultParallelism``): a cluster-scale table that already has
    thousands of scan partitions passes through untouched — NO shuffle,
    NO persist — so this is safe to leave in the 100 TB path. Pass
    ``cols`` to hash-partition (avoids round-robin's defensive
    per-partition sort); results never depend on partitioning — every
    downstream op re-shuffles on its own keys or is per-row.

    The repartitioned frame is persisted (tracked, released by
    ``cache.release_caches``): a bare Exchange is NOT enough, because
    Catalyst pushes deterministic filters/projects straight through
    ``RepartitionByExpression`` back onto the narrow scan — the measured
    plan ran the whole regex-scoring filter in the 1-task scan stage and
    shuffled the surviving ids. The persist is an optimizer barrier (and
    lets every branch of a multi-action funnel reuse one
    materialization).
    """
    from dataengineeringpipeline_spark.cache import tracked_persist

    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if cols:
        return tracked_persist(df.repartition(target, *[F.col(c) for c in cols]))
    return tracked_persist(df.repartition(target))


def approx_distinct_summary(
    df: DataFrame, key_cols: list[str], distinct_col: str, rsd: float = 0.02
) -> DataFrame:
    """Sketch-based distinct counting — the 100 TB stand-in for exact
    ``countDistinct`` (SURVEY.md §2.4 engine note)."""
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.approx_count_distinct(distinct_col, rsd).alias(f"approx_distinct_{distinct_col}"),
    )


def approx_quantiles(df: DataFrame, column: str, probs: list[float], accuracy: int = 10_000) -> list[float]:
    """Greenwald-Khanna approximate quantiles (the IQR outlier check's
    scale path — ``approxQuantile`` never collects the column)."""
    return df.approxQuantile(column, probs, 1.0 / accuracy)


def key_skew_profile(df: DataFrame, keys: list[str], top_n: int = 20) -> DataFrame:
    """Heavy-hitter diagnosis BEFORE a join/agg on ``keys``: the top-N key
    groups by row count, each with its share of the table and a skew
    factor vs the mean group size. A join whose build side has a
    top-key share of several percent is the one that needs salting
    (:func:`salted_aggregate`) or AQE skew splitting.

    One aggregation + a tiny top-N sort — run it on a sample for
    ad-hoc triage at full scale.
    """
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("rows"))
    totals = counts.agg(
        F.sum("rows").alias("total_rows"), F.avg("rows").alias("mean_rows")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *keys,
            "rows",
            (F.col("rows") / F.col("total_rows")).alias("share"),
            (F.col("rows") / F.col("mean_rows")).alias("skew_factor"),
        )
        .orderBy(F.desc("rows"), *keys)
        .limit(top_n)
    )


def partition_balance(df: DataFrame) -> DataFrame:
    """Physical-partition balance of ``df`` as it would execute: rows per
    Spark partition plus min/max/mean — one summary row. A max/mean far
    above ~2 means stragglers: repartition on a better key or let AQE
    coalesce. Diagnostic companion to :func:`key_skew_profile` (logical
    keys) — this one sees the actual layout."""
    per = df.select(F.spark_partition_id().alias("pid")).groupBy("pid").agg(
        F.count(F.lit(1)).alias("rows")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("partitions"),
        F.min("rows").alias("min_rows"),
        F.max("rows").alias("max_rows"),
        F.avg("rows").alias("mean_rows"),
        (F.max("rows") / F.avg("rows")).alias("balance_factor"),
    )


# -- count-min sketch heavy hitters ----------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024
_CMS_P = 1_000_003  # prime modulus; same style as sampling's hash buckets


def _cms_bucket(key: Column, d: int, width: int) -> Column:
    """Row-``d`` sketch bucket for ``key`` — pure integer arithmetic
    (Knuth multiplicative constants offset per row), so any engine
    reproduces it bit-identically; no engine-specific hash function.
    Max intermediate is ~(P·6e9) ≈ 6e15, well inside int64."""
    a = 2_654_435_761 + d * 1_013_904_223
    b = 40_503 * (d + 1)
    return F.pmod(F.pmod(F.pmod(key, _CMS_P) * F.lit(a) + F.lit(b), _CMS_P), width)


def cms_sketch(
    df: DataFrame, key_col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Count-min sketch of ``key_col``'s frequency distribution:
    ``depth × width`` counters, returned as ``(d, bucket, c)`` rows.

    The 100 TB property: sketch state is O(depth·width) — a few KB —
    regardless of key cardinality, and counters are mergeable (sum) across
    partitions, days, or stream micro-batches, so a fleet of jobs can
    each sketch its shard and the union is one ``groupBy(d, bucket).sum``.
    The aggregation's map-side combine reduces each task's output to at
    most ``depth × width`` rows before any exchange; the explode is
    ``depth`` small ints per input row, never the row's payload.
    """
    key = F.col(key_col)
    buckets = F.array(
        *[
            F.struct(F.lit(d).alias("d"), _cms_bucket(key, d, width).alias("bucket"))
            for d in range(depth)
        ]
    )
    return (
        df.select(F.explode(buckets).alias("b"))
        .groupBy(F.col("b.d").alias("d"), F.col("b.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Top-``top_n`` keys by count-min ESTIMATE, with the exact count and
    the overestimate alongside — the bounded-state twin of
    :func:`key_skew_profile` and the gauge that shows what the sketch's
    collision error costs on this corpus (estimate ≥ truth always; CM
    never undercounts).

    Plan shape: the sketch collapses to ONE broadcast row (a
    ``depth × width`` int map — ~32 KB), so per-key estimation is a
    map-only ``least()`` of ``depth`` map lookups over the per-key exact
    counts (one aggregation — the same single shuffle
    :func:`key_skew_profile` pays; a production deployment that cannot
    afford even that keeps per-partition candidate heaps instead and
    estimates only the candidates). Top-n is ``orderBy().limit()`` —
    TakeOrdered, no single-partition window. Ties break on the key, so
    the result is deterministic and oracle-exact.
    """
    key = F.col(key_col)
    sk = cms_sketch(df, key_col, depth, width)
    sketch_row = sk.agg(
        F.map_from_entries(
            F.collect_list(F.struct((F.col("d") * width + F.col("bucket")).alias("k"), F.col("c")))
        ).alias("m")
    )
    exact = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("true_count"))
    est = F.least(
        *[F.col("m")[_cms_bucket(key, d, width) + d * width] for d in range(depth)]
    )
    return (
        exact.crossJoin(F.broadcast(sketch_row))
        .select(
            key_col,
            est.alias("est_count"),
            "true_count",
            (est - F.col("true_count")).alias("overcount"),
        )
        .orderBy(F.desc("est_count"), F.asc(key_col))
        .limit(top_n)
    )


# -- HyperLogLog distinct sketch -------------------------------------------

#: 2^HLL_P registers; at p=10, theoretical relative error ≈ 1.04/√1024 ≈ 3.3%.
HLL_P = 10
#: Bits of the 48-bit word hash left after the bucket prefix — the
#: leading-zero-rank domain (rho ∈ 1..HLL_REGISTER_BITS+1).
HLL_REGISTER_BITS = 48 - HLL_P


def hll_registers(
    df: DataFrame, key_col: str, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """HyperLogLog register table for ``key_col``'s distinct count per
    group: ``(group..., bucket, max_rho)`` — the distinct-count sibling
    of :func:`cms_sketch`, for when even one exact ``COUNT(DISTINCT)``
    shuffle of the key universe is too much.

    The 100 TB property is the same as the CMS: state is O(2^p) rows per
    group regardless of key cardinality, the aggregation's map-side
    combine bounds every task's exchange output at 2^p rows, and
    registers are mergeable by MAX across partitions, days, shards, or
    stream micro-batches — a fleet can sketch shard-locally and union
    with one ``groupBy(bucket).max``.

    Hashing is the engine-portable md5-prefix 48-bit hash (pure integer
    + ``bin()`` string-length rank — no float ``log2``, whose rounding
    at exact powers of two differs across engines), so any engine
    reproduces the registers bit-identically. Swap ``xxhash64`` in at
    production scale exactly as the dedup family documents.
    """
    from dataengineeringpipeline_spark.operators.text import word_hash

    wmod = 1 << HLL_REGISTER_BITS
    rb = HLL_REGISTER_BITS
    h = word_hash(F.col(key_col).cast("string"))
    w = F.col("h") % F.lit(wmod)
    rho = F.when(w == 0, F.lit(rb + 1)).otherwise(
        F.lit(rb) - (F.length(F.bin(w)) - F.lit(1))
    )
    return (
        df.select(*group_cols, h.alias("h"))
        .select(
            *group_cols,
            F.expr(f"h div {wmod}").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_alpha_m2(p: int = HLL_P) -> float:
    """``alpha_m * m²`` for the raw HLL estimator (Flajolet et al. 2007
    constants, m ≥ 128 branch) — computed once driver-side so the Spark
    literal and the oracle-SQL literal are the same double."""
    m = 1 << p
    return (0.7213 / (1.0 + 1.079 / m)) * m * m


def hll_estimate(
    registers: DataFrame, group_cols: tuple[str, ...] = (), p: int = HLL_P
) -> DataFrame:
    """HLL estimate per group from a register table: the Flajolet et al.
    2007 estimator — raw harmonic mean ``alpha·m² / (Σ_present 2^-rho +
    empty_buckets)``, switched to linear counting ``m·ln(m/V)`` in the
    small range (raw ≤ 2.5m with V > 0 empty buckets), where the raw
    form saturates toward ``alpha·m`` instead of n.

    The raw branch is bit-reproducible anywhere (dyadic-rational terms,
    exact double sum). The linear-counting branch depends on the
    engine's libm ``ln`` (measured: JVM vs DuckDB differ in the last
    ulp on ~8% of arguments) — which is why the ORACLE-checked contract
    surface is :func:`hll_sketch_summary` (pure-integer register
    digest) and the estimator's accuracy is asserted in tests instead.
    """
    m = 1 << p
    denom = F.sum(F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), max_rho)"))
    per = registers.groupBy(*group_cols).agg(
        denom.alias("dp"), F.count(F.lit(1)).alias("nb")
    )
    v = (F.lit(m) - F.col("nb")).cast("double")
    raw = F.lit(hll_alpha_m2(p)) / (F.col("dp") + v)
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return per.select(*group_cols, est.alias("hll_estimate"))


def hll_sketch_summary(
    df: DataFrame, key_col: str = "user_id", group_cols: tuple[str, ...] = ("event_type",)
) -> DataFrame:
    """Oracle-checkable integer digest of the per-group HLL sketch next
    to the exact distinct count: occupied register count, register sum
    (an order-independent checksum of every ``max_rho``), and the
    deepest register.

    This is the cross-engine-hard part of HLL — hashing, bucketing and
    leading-zero ranks reproduced bit-identically — kept free of the
    one engine-dependent float (the linear-counting ``ln``, see
    :func:`hll_estimate`). ``occupancy`` doubles as the linear-counting
    input: estimate reconstruction is one ``m·ln(m/V)`` away."""
    m = 1 << HLL_P
    regs = hll_registers(df, key_col, group_cols)
    summary = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("occupied_buckets"),
        F.sum("max_rho").cast("long").alias("register_sum"),
        F.max("max_rho").cast("int").alias("deepest_register"),
    )
    exact = df.groupBy(*group_cols).agg(
        F.countDistinct(key_col).cast("long").alias("exact_distinct")
    )
    return (
        summary.join(exact, list(group_cols))
        .withColumn("occupancy", F.col("occupied_buckets") / F.lit(m))
        .orderBy(*group_cols)
    )


def hll_distinct_report(
    df: DataFrame, key_col: str = "user_id", group_cols: tuple[str, ...] = ("event_type",)
) -> DataFrame:
    """Accuracy gauge: per group, the HLL estimate next to the exact
    distinct count and its relative error — what a corpus owner reads
    before replacing exact ``COUNT(DISTINCT)`` with the sketch at scale.
    Tested (not oracle-hashed): the estimate's linear-counting branch is
    libm-dependent; see :func:`hll_estimate`."""
    est = hll_estimate(hll_registers(df, key_col, group_cols), group_cols)
    exact = df.groupBy(*group_cols).agg(
        F.countDistinct(key_col).cast("long").alias("exact_distinct")
    )
    return (
        est.join(exact, list(group_cols))
        .select(
            *group_cols,
            "hll_estimate",
            "exact_distinct",
            (
                F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct")
            ).alias("rel_error"),
        )
        .orderBy(*group_cols)
    )


def materialize_hll(
    events: DataFrame, lake, key_col: str = "user_id", table: str = "hll_user_daily"
) -> str:
    """Write per-day HLL registers to a gold table partitioned by day —
    the lake half of the sketch lifecycle (the streaming half is
    ``streaming.stream_hll_sketch``): each day's ingestion appends its
    own partition once, and any later "distinct users over dates X..Y"
    reads a few KB of registers instead of re-scanning the events.
    """
    regs = hll_registers(events, key_col, group_cols=("event_date",))
    return lake.write(regs, "gold", table, partition_by=("event_date",))


def hll_range_distinct(
    spark: SparkSession, lake, start_date: str, end_date: str, table: str = "hll_user_daily"
) -> DataFrame:
    """Distinct-count estimate over an arbitrary date range from the
    materialized per-day registers: partition-pruned scan of the range's
    register partitions (the date filter sits on the partition column —
    only those directories are read), one max-merge, one estimate row.
    Merge correctness is exact — max-merged per-day registers ARE the
    registers of the union slice — so the only approximation is the
    estimator itself."""
    regs = lake.read(spark, "gold", table).filter(
        (F.col("event_date") >= F.lit(start_date)) & (F.col("event_date") <= F.lit(end_date))
    )
    merged = regs.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))
    return hll_estimate(merged)


# -- Bloom-filter join pruning ----------------------------------------------

#: Bloom bitmap size in bits — sized so the sf0.1 bench key set (~3k
#: keys × 4 probes) loads the filter to ~0.3 and the stats report shows
#: a real sub-1% fp rate. At production scale size it from the dim
#: cardinality (m ≈ -n·ln(fp)/ln2², e.g. 10 bits/key for ~1% fp).
BLOOM_M = 1 << 15
#: Number of hash probes per key (k ≈ (m/n)·ln2).
BLOOM_K = 4


def _bloom_positions(key: Column, m: int, k: int) -> Column:
    """Array of ``k`` bit positions for a key — each probe is the
    engine-portable 48-bit md5-prefix hash of ``"j:<key>"`` mod ``m``
    (pure integer, so the DuckDB oracle reproduces the bitmap exactly)."""
    from dataengineeringpipeline_spark.operators.text import word_hash

    return F.array(
        *[
            word_hash(F.concat(F.lit(f"{j}:"), key.cast("string"))) % F.lit(m)
            for j in range(k)
        ]
    )


def bloom_build(keys: DataFrame, key_col: str, m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Build a Bloom filter over ``keys[key_col]`` as ONE row holding the
    packed bitmap: a ``word_idx -> bits`` map of 64-bit words (≤ m/64
    entries — KBs regardless of key cardinality) plus ``n_keys`` and
    ``bits_set``.

    The 100 TB shape: the build side aggregates down to m bits no matter
    how many keys flow in (map-side ``bit_or`` combine bounds every
    task's exchange output at m/64 rows), and the probe side
    (:func:`bloom_prune`) is a broadcast of those KBs plus a map-only
    filter — the fact table is pruned BEFORE its join shuffle, which is
    exactly what Spark's runtime row-group/bloom pushdown does, made
    explicit and engine-portable. This is the semi-join-reduction
    technique for joins whose dim-side predicate is too selective to
    justify shuffling the full fact table.
    """
    pos = (
        keys.select(F.explode(_bloom_positions(F.col(key_col), m, k)).alias("pos"))
        .distinct()
    )
    words = pos.groupBy(F.expr("pos div 64").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))").alias("bits"),
        F.count(F.lit(1)).alias("nbits"),
    )
    packed = words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word_idx", "bits")))
        ).alias("bloom_words"),
        F.sum("nbits").cast("long").alias("bits_set"),
    )
    n = keys.agg(F.countDistinct(key_col).cast("long").alias("n_keys"))
    return packed.join(n).select(
        "bloom_words", "bits_set", "n_keys", F.lit(m).alias("m"), F.lit(k).alias("k")
    )


def bloom_prune(
    fact: DataFrame, bloom: DataFrame, key_col: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Filter ``fact`` to rows whose ``key_col`` the Bloom filter might
    contain (no false negatives; false-positive rate set by m, k and the
    build cardinality). Broadcast of the one-row bitmap + a map-only
    probe — no shuffle, no join; run it UNDER the real join so the
    exchange only carries surviving rows."""
    marked = _bloom_probe(
        fact.join(F.broadcast(bloom.select("bloom_words"))), key_col, m, k
    )
    return marked.filter(F.col("_bloom_pass")).drop("_bloom_pass", "bloom_words")


def _bloom_probe(df: DataFrame, key_col: str, m: int, k: int) -> DataFrame:
    """Add ``_bloom_pass``: true iff every one of the key's ``k`` probe
    bits is set in the joined-in ``bloom_words`` bitmap. Probe positions
    materialize as temp columns because the bit test needs a column
    shift amount, which only the SQL ``shiftleft`` takes (the Python
    wrapper is literal-only); everything stays a map-only projection."""
    from dataengineeringpipeline_spark.operators.text import word_hash

    out, conds = df, []
    for j in range(k):
        c = f"_bp{j}"
        out = out.withColumn(
            c, word_hash(F.concat(F.lit(f"{j}:"), F.col(key_col).cast("string"))) % F.lit(m)
        )
        conds.append(
            F.expr(
                f"(coalesce(element_at(bloom_words, {c} div 64), CAST(0 AS BIGINT))"
                f" & shiftleft(CAST(1 AS BIGINT), CAST({c} % 64 AS INT))) <> 0"
            )
        )
    passes = conds[0]
    for c in conds[1:]:
        passes = passes & c
    return out.withColumn("_bloom_pass", passes).drop(*[f"_bp{j}" for j in range(k)])


def bloom_prune_stats(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    dim_key: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """One-row effectiveness report of Bloom-pruning ``fact`` against the
    key set: fact rows in/out, true matches vs false positives, the
    realized fp rate and pruned fraction — what you read before deciding
    the filter earns its broadcast at the current m/k sizing. Every
    count is exact and engine-portable (the oracle rebuilds the same
    bitmap), divisions happen once at the end."""
    bloom = bloom_build(keys, dim_key, m, k)
    marked = (
        _bloom_probe(
            fact.select(F.col(fact_key).alias("fk")).join(
                F.broadcast(bloom.select("bloom_words"))
            ),
            "fk",
            m,
            k,
        )
        .withColumnRenamed("_bloom_pass", "passes")
        .join(
            F.broadcast(
                keys.select(F.col(dim_key).alias("fk")).distinct().withColumn(
                    "is_true", F.lit(True)
                )
            ),
            "fk",
            "left",
        )
        .withColumn("is_true", F.coalesce("is_true", F.lit(False)))
    )
    counts = marked.agg(
        F.count(F.lit(1)).cast("long").alias("fact_rows"),
        F.sum(F.col("passes").cast("long")).cast("long").alias("passed_rows"),
        F.sum(F.col("is_true").cast("long")).cast("long").alias("true_match_rows"),
        F.sum((F.col("passes") & ~F.col("is_true")).cast("long"))
        .cast("long")
        .alias("false_positive_rows"),
    )
    return counts.join(bloom.select("bits_set", "n_keys", "m", "k")).select(
        "m",
        "k",
        "n_keys",
        "bits_set",
        "fact_rows",
        "passed_rows",
        "true_match_rows",
        "false_positive_rows",
        (F.col("fact_rows") - F.col("passed_rows")).alias("pruned_rows"),
        (F.col("false_positive_rows") / (F.col("fact_rows") - F.col("true_match_rows")))
        .alias("fp_rate"),
        ((F.col("fact_rows") - F.col("passed_rows")) / F.col("fact_rows")).alias(
            "pruned_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Hot-key-split (skew) join
# ---------------------------------------------------------------------------


def hot_keys(fact: DataFrame, key: str, min_rows: int, top_n: int = 50) -> list:
    """The ≤ ``top_n`` fact keys with at least ``min_rows`` rows — a
    bounded driver list (two scalars per key), the decision input for
    :func:`skew_split_join`. One map-side-combined count aggregation."""
    rows = (
        fact.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_rows)
        .orderBy(F.desc("n"), F.asc(key))
        .limit(top_n)
        .collect()
    )
    # a null key never matches an equi-join anyway; keep it on the cold
    # path rather than wasting an IN-list slot (isin(None) is never true)
    return [r[0] for r in rows if r[0] is not None]


def skew_split_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    min_rows: int = 100_000,
    top_n: int = 50,
    how: str = "inner",
) -> DataFrame:
    """Equi-join that survives a skewed fact key: the hottest keys take
    a broadcast path, the long tail takes the normal shuffle path.

    A plain shuffle join puts every row of a hot key in ONE reducer
    task — the straggler that defines the stage's wall-clock at 100 TB
    (a 5% hot key is 5 TB in one task). AQE's skew-join split handles
    *moderate* skew by splitting oversized partitions, but only for
    sort-merge joins and only per shuffle-block granularity; this
    operator removes the hot keys from the shuffle entirely:

    - hot slice (``fact_key ∈ hot``): joined against the broadcast hot
      slice of the dim — map-side, no exchange of the hot rows at all;
    - cold slice: the ordinary shuffle join, now with a bounded max
      partition.

    The split predicate is a literal IN-list (≤ ``top_n`` keys), so
    both scans prune/push it down. Results are the exact multiset union
    of the plain join's rows for inner and left joins (every fact row
    lands in exactly one slice; the dim side is only filtered to keys
    that slice can match).

    ``how`` supports ``inner`` and ``left`` (right/full would need
    dim-side unmatched-row recovery across slices).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"skew_split_join supports inner/left, got {how!r}")
    hot = hot_keys(fact, fact_key, min_rows, top_n)
    join_cond = fact[fact_key] == dim[dim_key]
    if not hot:
        return fact.join(dim, join_cond, how)
    hot_fact = fact.filter(F.col(fact_key).isin(hot))
    cold_fact = fact.filter(~F.col(fact_key).isin(hot) | F.col(fact_key).isNull())
    hot_dim = F.broadcast(dim.filter(F.col(dim_key).isin(hot)))
    cold_dim = dim.filter(~F.col(dim_key).isin(hot))
    hot_joined = hot_fact.join(hot_dim, hot_fact[fact_key] == hot_dim[dim_key], how)
    cold_joined = cold_fact.join(cold_dim, cold_fact[fact_key] == cold_dim[dim_key], how)
    return hot_joined.unionByName(cold_joined)


def skew_join_segment_summary(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Contract face of :func:`skew_split_join`: enrich events with the
    customer dimension through the hot-key-split join (threshold forced
    low so the hot path actually exercises at test scale), then roll up
    per market segment. Deterministic money sum (decimal partials).

    Returns (c_mktsegment, events, users, total_value) ordered by
    segment."""
    from dataengineeringpipeline_spark.functions import money_sum

    joined = skew_split_join(
        events.select("event_id", "user_id", "value"),
        customers.select("c_custkey", "c_mktsegment"),
        "user_id",
        "c_custkey",
        min_rows=10,
        top_n=20,
        how="inner",
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("events"),
            F.countDistinct("user_id").cast("long").alias("users"),
            money_sum("value", "total_value"),
        )
        .orderBy("c_mktsegment")
    )


#: Byte-width heuristic per Spark type for dimension-size estimation
#: (fixed types at their storage width, strings at a nominal 20 B) —
#: the same kind of width table a CBO uses when column stats are absent.
EST_TYPE_BYTES = {
    "byte": 1,
    "short": 2,
    "integer": 4,
    "long": 8,
    "float": 4,
    "double": 8,
    "timestamp": 8,
    "timestamp_ntz": 8,
    "date": 4,
    "boolean": 1,
    "string": 20,
}

#: Production broadcast ceiling — Spark's default
#: ``spark.sql.autoBroadcastJoinThreshold``.
BROADCAST_BYTES_DEFAULT = 10 * 1024 * 1024
#: Fact-side hot-key share (per mille) above which a non-broadcast join
#: should split the hot keys out (:func:`skew_split_join`) or salt.
HOT_KEY_PM_DEFAULT = 50


def est_row_bytes(df: DataFrame) -> int:
    """Schema-derived row-width estimate (bytes) from the type table."""
    return sum(EST_TYPE_BYTES.get(f.dataType.typeName(), 20) for f in df.schema.fields)


def join_strategy_advisor(
    joins: list[tuple[str, DataFrame, str, str, DataFrame, str]],
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
    hot_key_pm: int = HOT_KEY_PM_DEFAULT,
) -> DataFrame:
    """Recommend a physical join strategy per (fact ⋈ dim) pair — the
    triage this module's tools exist for, emitted as data instead of
    applied by hand:

    - **broadcast** when the dim's estimated bytes (rows × schema width)
      fit the broadcast ceiling — the hash map ships to every executor
      and the fact side never shuffles;
    - **hot_key_split** when the dim must shuffle AND the fact's top
      join key holds ≥ ``hot_key_pm`` per mille of its rows — a plain
      shuffle would hand one task the hot key's entire partition
      (:func:`skew_split_join` is the matching fix);
    - **shuffle_hash** otherwise — both sides exchange on the key, no
      single task drowns.

    ``joins`` entries are ``(fact_name, fact_df, fact_key, dim_name,
    dim_df, dim_key)``. Cost: per join, one map-side-combined key count
    on the fact (the expensive side is one agg over int keys) and a
    1-row dim count; outputs union to |joins| rows. Everything is exact
    integer arithmetic, so the recommendation is reproducible — and
    oracle-checkable — on any engine.
    """
    out = None
    for fact_name, fact, fact_key, dim_name, dim, dim_key in joins:
        fstats = (
            fact.groupBy(fact_key)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.max("c").cast("long").alias("top_key_rows"),
                F.sum("c").cast("long").alias("fact_rows"),
            )
        )
        dstats = dim.agg(F.count(F.lit(1)).cast("long").alias("dim_rows"))
        row = (
            fstats.crossJoin(dstats)
            .select(
                F.lit(fact_name).alias("fact_table"),
                F.lit(dim_name).alias("dim_table"),
                F.lit(f"{fact_key}={dim_key}").alias("join_key"),
                "fact_rows",
                "dim_rows",
                (F.col("dim_rows") * F.lit(est_row_bytes(dim)))
                .cast("long")
                .alias("dim_est_bytes"),
                "top_key_rows",
                F.expr(
                    "CASE WHEN fact_rows > 0"
                    " THEN (top_key_rows * 1000) div fact_rows ELSE 0 END"
                )
                .cast("long")
                .alias("top_key_pm"),
            )
            .withColumn(
                "strategy",
                F.when(F.col("dim_est_bytes") <= broadcast_bytes, "broadcast")
                .when(F.col("top_key_pm") >= hot_key_pm, "hot_key_split")
                .otherwise("shuffle_hash"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fact_table", "dim_table")


def analyze_join_keys(table_name: str, df: DataFrame, key_cols: list[str]) -> DataFrame:
    """ANALYZE pass for join planning: per key column, the row count,
    distinct-key count, and top-key frequency — the per-column stats
    :func:`join_strategy_advisor_from_stats` consumes. One
    map-side-combined ``groupBy`` per key column (the identical agg the
    inline advisor pays per call), but paid ONCE at ANALYZE time and
    persisted: the CBO loop is analyze once, advise many. Returns
    ``(table_name, column_name, rows, ndv, top_key_rows)``."""
    out = None
    for c in key_cols:
        row = (
            df.groupBy(c)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("rows"),
                F.count(F.lit(1)).cast("long").alias("ndv"),
                F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("top_key_rows"),
            )
            .select(
                F.lit(table_name).alias("table_name"),
                F.lit(c).alias("column_name"),
                "rows",
                "ndv",
                "top_key_rows",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def join_strategy_advisor_from_stats(
    key_stats: DataFrame,
    joins: list[tuple[str, str, str, str, int]],
    broadcast_bytes: int = BROADCAST_BYTES_DEFAULT,
    hot_key_pm: int = HOT_KEY_PM_DEFAULT,
) -> DataFrame:
    """:func:`join_strategy_advisor` fed from persisted ANALYZE output
    instead of re-scanning the fact per call — the real CBO loop:
    ``key_stats`` is a (gold) table of :func:`analyze_join_keys` rows,
    and each advised join touches ONLY that metadata-sized table, never
    the facts. ``joins`` entries are ``(fact_name, fact_key, dim_name,
    dim_key, dim_row_bytes)`` — the dim width comes from the schema
    (:func:`est_row_bytes`), which needs no scan either. Output schema
    and decision rule are identical to the inline advisor; on the same
    stats the two agree row-for-row (tested)."""
    spark = key_stats.sparkSession
    meta = spark.createDataFrame(
        joins,
        "fact_table string, fact_key string, dim_table string,"
        " dim_key string, dim_row_bytes long",
    )
    fact = key_stats.select(
        F.col("table_name").alias("fact_table"),
        F.col("column_name").alias("fact_key"),
        F.col("rows").alias("fact_rows"),
        "top_key_rows",
    )
    dim = key_stats.select(
        F.col("table_name").alias("dim_table"),
        F.col("column_name").alias("dim_key"),
        F.col("rows").alias("dim_rows"),
    )
    return (
        meta.join(F.broadcast(fact), ["fact_table", "fact_key"])
        .join(F.broadcast(dim), ["dim_table", "dim_key"])
        .select(
            "fact_table",
            "dim_table",
            F.concat_ws("=", "fact_key", "dim_key").alias("join_key"),
            "fact_rows",
            "dim_rows",
            (F.col("dim_rows") * F.col("dim_row_bytes")).cast("long").alias("dim_est_bytes"),
            "top_key_rows",
            F.expr(
                "CASE WHEN fact_rows > 0"
                " THEN (top_key_rows * 1000) div fact_rows ELSE 0 END"
            )
            .cast("long")
            .alias("top_key_pm"),
        )
        .withColumn(
            "strategy",
            F.when(F.col("dim_est_bytes") <= broadcast_bytes, "broadcast")
            .when(F.col("top_key_pm") >= hot_key_pm, "hot_key_split")
            .otherwise("shuffle_hash"),
        )
        .orderBy("fact_table", "dim_table")
    )


# -- log-linear quantile sketch ---------------------------------------------

#: Linear sub-buckets per octave (2^QSK_SUB_BITS). 32 sub-buckets bound
#: the bucket width at 1/32 of its lower edge, so a midpoint estimate is
#: within ~1.6% relative error of any value in the bucket.
QSK_SUB_BITS = 5
QSK_SUB = 1 << QSK_SUB_BITS


def _qsk_bin(v: str) -> Column:
    """Log-linear histogram bin index for a non-negative int64 value —
    the HdrHistogram / DDSketch bucketing scheme (log-spaced octaves,
    linearly sub-divided) in EXACT integer arithmetic: the octave is the
    value's bit length (``length(bin(v)) - 1``), never a floating
    ``log``, so any engine reproduces the index bit-identically (libm
    ``log2`` disagreement at octave boundaries is the classic
    cross-engine hazard this sidesteps).

    Layout: values < 2·QSK_SUB are their own bin (exact, width 1);
    octave ``e ≥ QSK_SUB_BITS+1`` holds QSK_SUB bins of width
    ``2^(e-QSK_SUB_BITS)``. Bin count for int64 input is ≤ 2·QSK_SUB +
    57·QSK_SUB ≈ 1.9k — bounded state regardless of value cardinality.
    """
    # The variable-count shift goes through the SQL form (the python
    # shiftrightunsigned() binding only accepts a literal count), so the
    # input must be a NAMED column; callers project the value to ``v``.
    e = f"(length(bin({v})) - 1)"
    return F.expr(
        f"CASE WHEN {v} < {2 * QSK_SUB} THEN cast({v} as int) "
        f"ELSE cast(({e} - {QSK_SUB_BITS + 1}) * {QSK_SUB} + {2 * QSK_SUB} "
        f"+ shiftrightunsigned({v}, {e} - {QSK_SUB_BITS}) - {QSK_SUB} as int) END"
    )


def _qsk_est_sql(idx: str) -> str:
    """SQL for the midpoint estimate of bin column ``idx`` — inverse of
    :func:`_qsk_bin`, same exact integer arithmetic (and the same text a
    DuckDB oracle uses modulo its ``//`` spelling of ``div``)."""
    w = (
        f"shiftleft(cast(1 as bigint),"
        f" cast((({idx} - {2 * QSK_SUB}) div {QSK_SUB}) + 1 as int))"
    )
    return (
        f"CASE WHEN {idx} < {2 * QSK_SUB} THEN cast({idx} as bigint) "
        f"ELSE cast(({idx} - {2 * QSK_SUB}) % {QSK_SUB} + {QSK_SUB} as bigint)"
        f" * {w} + ({w} - 1) div 2 END"
    )


def quantile_sketch(
    df: DataFrame, value_col: str, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Mergeable quantile sketch of a non-negative int64 ``value_col``
    per group: ``(group..., bin, c)`` log-linear histogram rows — the
    quantile member of the sketch family (CMS frequency, HLL distinct,
    Bloom membership), after the public DDSketch (Masson et al., VLDB
    2019) / HdrHistogram designs.

    The 100 TB property mirrors :func:`cms_sketch`: state is O(bins) —
    ≤ ~1.9k rows per group regardless of value cardinality — and bins
    merge by COUNTER ADDITION, so partition partials, daily partials,
    and stream micro-batch partials all combine with one
    ``groupBy(bin).sum``. The map-side combine reduces each task to at
    most the bin count before any exchange; contrast Spark's
    ``percentile`` which shuffles every distinct value, and
    ``approx_percentile`` whose GK sketch is neither deterministic
    across partitionings nor reproducible by another engine. This bin
    function is exact integer arithmetic, so the sketch — and every
    quantile read off it — is oracle-checkable bit-for-bit.
    """
    named = df.select(
        *group_cols, F.col(value_col).cast("long").alias("_qv")
    )
    return (
        named.select(*group_cols, _qsk_bin("_qv").alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def quantile_sketch_estimates(
    bins: DataFrame, probs: list[float], group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Quantile estimates from (merged) sketch bins: for each group and
    each ``p`` in ``probs``, the midpoint of the first bin whose
    cumulative count reaches rank ``ceil(p·n)`` (the discrete-quantile
    rank convention) — ``(group..., p, n, est)``.

    Plan shape: one cumulative-sum window per group over ≤ ~1.9k bin
    rows (sketch-sized, not data-sized), a broadcast of the tiny probs
    list, and a min-aggregate — nothing here touches the raw values
    again. Rank arithmetic: ``p·n`` is one double multiply of a ≤ 2^53
    count, identical in any IEEE engine; everything after is integer.
    """
    from pyspark.sql.window import Window

    spark = bins.sparkSession
    gcols = list(group_cols)
    w = Window.partitionBy(*[F.col(c) for c in gcols]).orderBy("bin")
    cum = bins.select(
        *gcols,
        "bin",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy(*[F.col(c) for c in gcols])).alias("n"),
    )
    probs_df = F.broadcast(
        spark.createDataFrame([(float(p),) for p in probs], "p double")
    )
    hit = cum.join(
        probs_df,
        cum.cum >= F.greatest(F.lit(1), F.ceil(probs_df.p * cum.n)),
    )
    first = hit.groupBy(*gcols, "p", "n").agg(F.min("bin").alias("bin"))
    return first.select(
        *gcols,
        "p",
        F.col("n").cast("long").alias("n"),
        F.expr(_qsk_est_sql("bin")).cast("long").alias("est"),
    )


def quantile_sketch_report(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Sketch quantile estimates side-by-side with the exact discrete
    quantile and the per-mille relative error — the accuracy gauge that
    shows what the log-linear binning costs on this corpus (the
    :func:`cms_heavy_hitters` pattern: sketch answer + exact baseline in
    one result). ``(group..., p, n, est, exact, err_pm)``.

    The exact side cumulates per-DISTINCT-value counts (one map-side-
    combined agg + a window over distinct values) using the same rank
    convention as the sketch read — at 100 TB it is the part you drop,
    keeping only the sketch; ``err_pm ≤ ~16`` (1/64 midpoint bound)
    by construction.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    gcols = list(group_cols)
    bins = quantile_sketch(df, value_col, group_cols)
    est = quantile_sketch_estimates(bins, list(probs), group_cols)
    v = F.col(value_col).cast("long")
    dist = df.select(*gcols, v.alias("v")).groupBy(*gcols, "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy(*[F.col(c) for c in gcols]).orderBy("v")
    cum = dist.select(
        *gcols,
        "v",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy(*[F.col(c) for c in gcols])).alias("n"),
    )
    probs_df = F.broadcast(
        spark.createDataFrame([(float(p),) for p in probs], "p double")
    )
    exact = (
        cum.join(
            probs_df,
            cum.cum >= F.greatest(F.lit(1), F.ceil(probs_df.p * cum.n)),
        )
        .groupBy(*gcols, "p")
        .agg(F.min("v").alias("exact"))
    )
    return (
        est.join(exact, [*gcols, "p"])
        .select(
            *gcols,
            "p",
            "n",
            "est",
            "exact",
            # integer div on both sides: a double-division + cast would
            # TRUNCATE here but ROUND in DuckDB — classic parity trap
            F.expr("(abs(est - exact) * 1000) div exact").alias("err_pm"),
        )
        .orderBy(*gcols, "p")
    )


def value_quartile_profile(
    df: DataFrame, value_col: str, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Quartile-bucket profile via the quantile sketch — the "ANALYZE
    once, transform many" application: Q1/Q2/Q3 edges come from the
    ≤ ~1.9k-bin sketch (one aggregate-sized pass), broadcast back, and
    every row is assigned its quartile with three comparisons — a
    map-only transform no matter how large the fact table is. Spark's
    own ``ntile`` would shuffle-sort EVERY row per group to hand out
    the same labels. ``(group..., quartile, n_rows, share_pm, min_v,
    max_v)``.

    The bucket rule uses the sketch's integer midpoints (``v <= edge``),
    so assignment is exact integer comparison — bucket populations are
    approximate only in the DDSketch sense (edges within ~1.6% of the
    true quantile), which the per-mille share column makes visible.
    """
    from pyspark.sql.window import Window

    gcols = list(group_cols)
    named = df.select(*gcols, F.col(value_col).cast("long").alias("v"))
    edges = (
        quantile_sketch_estimates(
            quantile_sketch(named, "v", tuple(gcols)), [0.25, 0.5, 0.75], tuple(gcols)
        )
        .groupBy(*gcols)
        .agg(
            F.max(F.when(F.col("p") == 0.25, F.col("est"))).alias("q1"),
            F.max(F.when(F.col("p") == 0.5, F.col("est"))).alias("q2"),
            F.max(F.when(F.col("p") == 0.75, F.col("est"))).alias("q3"),
        )
    )
    bucketed = named.join(F.broadcast(edges), gcols).select(
        *gcols,
        "v",
        F.when(F.col("v") <= F.col("q1"), F.lit(1))
        .when(F.col("v") <= F.col("q2"), F.lit(2))
        .when(F.col("v") <= F.col("q3"), F.lit(3))
        .otherwise(F.lit(4))
        .alias("quartile"),
    )
    prof = bucketed.groupBy(*gcols, "quartile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    w = Window.partitionBy(*[F.col(c) for c in gcols])
    return prof.select(
        *gcols,
        "quartile",
        "n_rows",
        F.expr("n_rows * 1000").alias("_num"),
        F.sum("n_rows").over(w).alias("_den"),
        "min_v",
        "max_v",
    ).select(
        *gcols,
        "quartile",
        "n_rows",
        F.expr("_num div _den").alias("share_pm"),
        "min_v",
        "max_v",
    ).orderBy(*gcols, "quartile")
