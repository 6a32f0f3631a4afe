"""Slowly-changing-dimension Type 2: versioned dimension history.

The reference pipeline rebuilds dimension snapshots wholesale (Glue
full-refresh jobs); the warehouse-native upgrade every consumer of a
dimension eventually asks for is SCD2 — keep every attribute version
with its validity interval instead of overwriting. Two operators:

- :func:`scd2_history` — changelog → full version history in ONE pass:
  per-key event-time ordering, consecutive-duplicate suppression (a
  change record that doesn't change tracked attributes opens no
  version), validity intervals via ``lead``, open-ended current rows.
  One shuffle on the key; windows never cross keys, so a 1000-executor
  run partitions cleanly by key hash.
- :func:`scd2_apply_changes` — incremental batch apply: union the dimension's
  open rows with the update batch and re-derive history for touched
  keys only; untouched keys pass through unchanged (no full-dimension
  rewrite — the property that matters when the dimension is billions of
  rows and the batch touches thousands).

Both are pure DataFrame transforms (window + join); determinism comes
from a total per-key ordering — callers must supply a tiebreaker column
for same-timestamp changes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    changes: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Full SCD2 history from a change log.

    Returns one row per retained version:
    ``(*key_cols, *attr_cols, *carry_cols, valid_from, valid_to,
    version, is_current)`` where ``valid_from`` is the change's
    ``ts_col``, ``valid_to`` is the next version's start (NULL for the
    open row), ``version`` counts from 1 per key, and consecutive
    records with identical tracked attributes are suppressed (the
    earliest of the run survives). ``carry_cols`` are extra columns of
    the version-OPENING record carried into its history row — store the
    tiebreaker here (e.g. the opening order's key) and an incremental
    re-derivation can reproduce the original total order bit-for-bit.
    """
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # A change is version-opening iff any tracked attribute differs from
    # the previous record's (NULL-safe: eqNullSafe catches NULL→value).
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.lag(ts_col).over(w).isNull()
    opening = changes.withColumn("_open", first | changed).filter(F.col("_open"))
    w2 = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols])
    return (
        opening.select(
            *key_cols,
            *attr_cols,
            *carry_cols,
            F.col(ts_col).alias("valid_from"),
            F.lead(ts_col).over(w2).alias("valid_to"),
            F.row_number().over(w2).cast("int").alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def scd2_apply_changes(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
    carry_cols: Sequence[str] = (),
    broadcast_touched: bool = True,
) -> DataFrame:
    """Apply an update batch to an existing SCD2 dimension.

    ``dim`` must have the :func:`scd2_history` output shape; ``updates``
    is a change log ``(*key_cols, *attr_cols, ts_col[, tiebreaks])``.
    For each touched key, the key's existing history is stitched to the
    new changes by re-deriving intervals over (closed versions' starts ∪
    current row ∪ updates); untouched keys pass through verbatim.
    Updates older than a key's current ``valid_from`` splice versions
    in-place (late-arriving changes), identical-attribute updates are
    suppressed — both inherited from :func:`scd2_history`.
    ``carry_cols`` (present in both ``dim`` and ``updates``) ride each
    version-opening record through the re-derivation — see
    :func:`scd2_history`.

    ``broadcast_touched=False`` is the BACKFILL shape: a batch touching
    tens of millions of keys must not broadcast its key set — the
    touched-key joins run as shuffle joins instead (``Lake.merge_scd2``
    flips this per its ``merge_broadcast_keys`` threshold).
    """
    bt = F.broadcast if broadcast_touched else (lambda d: d)
    touched = updates.select(*key_cols).distinct()
    untouched = dim.join(bt(touched), list(key_cols), "left_anti")
    extra = list(
        dict.fromkeys(
            c
            for c in (*tiebreak_cols, *carry_cols)
            if c not in (*key_cols, *attr_cols)
        )
    )
    old_changes = dim.join(bt(touched), list(key_cols), "left_semi").select(
        *key_cols, *attr_cols, F.col("valid_from").alias(ts_col),
        *[F.col(c) for c in extra if c in dim.columns],
    )
    # Harmonize update columns to the changelog shape (tiebreakers may be
    # absent from dim history — fill with the update's own, or NULLs).
    upd = updates.select(
        *key_cols, *attr_cols, F.col(ts_col),
        *[F.col(c) for c in extra if c in updates.columns],
    )
    for c in extra:
        if c not in old_changes.columns:
            old_changes = old_changes.withColumn(c, F.lit(None))
        if c not in upd.columns:
            upd = upd.withColumn(c, F.lit(None))
    merged = scd2_history(
        old_changes.unionByName(upd),
        key_cols,
        attr_cols,
        ts_col,
        tiebreak_cols,
        carry_cols,
    )
    return untouched.unionByName(merged.select(*untouched.columns))


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    op_col: str = "op",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Apply an ordered CDC changelog (Debezium-style insert/update/
    delete ops) to a latest-state snapshot — the Type-1 sibling of
    :func:`scd2_apply_changes`: instead of versioned history, each key
    keeps only its newest state, and a delete tombstone removes the key.

    ``changes`` carries the snapshot's columns plus ``op_col`` ('D'
    deletes the key; anything else upserts the row) and optional
    tiebreakers; per key, only the LATEST change by ``(ts_col,
    *tiebreak_cols)`` wins — intermediate churn within the batch is
    collapsed before touching the snapshot, so a key updated 1000 times
    in one batch costs the same as one updated once. A terminal 'D'
    deletes even a key the snapshot never had (tombstone for an insert
    collapsed away in the same batch).

    100 TB shape: the only shuffle is the batch-sized latest-per-key
    window; snapshot rows never shuffle — untouched keys pass through a
    broadcast ``left_anti`` (the touched-key set is batch-sized) and the
    union is partition-local. Pair with ``Lake.purge_keys``-style
    footer pruning to rewrite only the files whose key envelope the
    batch touches.
    """
    order = [F.col(ts_col).desc(), *[F.col(c).desc() for c in tiebreak_cols]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = latest.select(*key_cols).distinct()
    untouched = snapshot.join(F.broadcast(touched), list(key_cols), "left_anti")
    survivors = latest.filter(F.col(op_col) != "D").select(*snapshot.columns)
    return untouched.unionByName(survivors)


#: Tiebreak chain of the order CDC fixture, through every payload column
#: (see :func:`cdc_order_snapshot`).
_CDC_ORDER_TIEBREAK = ("line_number", "op", "status", "total_price")


def _cdc_order_frames(
    orders: DataFrame, lineitem: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The order CDC fixture shared by the batch, lake and streaming CDC
    queries: ``(snapshot, changes)``. The snapshot is pre-1999 orders
    (key, status, price, last change date); the changelog is the 2001+
    shipment tail of lineitem, each shipment upserting its order (op
    ``U``) and returned lines (``l_returnflag = 'R'``) tombstoning it
    (op ``D``)."""
    snapshot = orders.filter(
        F.col("o_orderdate").cast("date") < F.lit("1999-01-01").cast("date")
    ).select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderdate").cast("date").alias("last_change"),
    )
    changes = lineitem.filter(
        F.col("l_shipdate").cast("date") >= F.lit("2001-01-01").cast("date")
    ).select(
        F.col("l_orderkey").alias("order_key"),
        F.when(F.col("l_returnflag") == "R", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.concat(F.lit("SHIPPED-"), F.col("l_linestatus")).alias("status"),
        F.col("l_extendedprice").alias("total_price"),
        F.col("l_shipdate").cast("date").alias("last_change"),
        F.col("l_linenumber").alias("line_number"),
    )
    return snapshot, changes


def cdc_order_snapshot(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Driver-contract query: CDC-apply a shipment changelog to an order
    snapshot (:func:`_cdc_order_frames`): each shipment upserts its order
    (status ``SHIPPED-<linestatus>``, price re-quoted to the line's
    extended price) and returned lines tombstone it. Latest shipment per
    order wins; the tiebreak chain extends through every payload column
    because the synthetic data carries duplicate (order, ship date,
    line number) rows with different payloads — ROW_NUMBER over a
    non-total order is the classic cross-engine nondeterminism, caught
    by the sf0.1 hostile probe. With the full chain, remaining ties are
    bit-identical rows, so the winner is value-unique — deterministic."""
    snapshot, changes = _cdc_order_frames(orders, lineitem)
    return cdc_apply(
        snapshot,
        changes,
        key_cols=["order_key"],
        ts_col="last_change",
        op_col="op",
        tiebreak_cols=list(_CDC_ORDER_TIEBREAK),
    ).orderBy("order_key")


def customer_priority_scd2(orders: DataFrame) -> DataFrame:
    """Driver-contract query: SCD2 history of each customer's order
    priority — every priority change opens a version, repeat orders at
    the same priority are suppressed, the latest version is open-ended.
    Ordering ties (same-day orders) break on order key, making the
    history bit-deterministic."""
    changes = orders.select(
        F.col("o_custkey").alias("customer_key"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("change_date"),
        F.col("o_orderkey").alias("order_key"),
    )
    return scd2_history(
        changes,
        key_cols=["customer_key"],
        attr_cols=["priority"],
        ts_col="change_date",
        tiebreak_cols=["order_key"],
    ).select(
        "customer_key", "priority", "valid_from", "valid_to", "version", "is_current"
    ).orderBy("customer_key", "version")
