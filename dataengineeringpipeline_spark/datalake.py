"""Layered Parquet data lake: read/write/partition + schema registry.

Re-expresses the reference's medallion bucket layout (bronze/silver/gold
directories of snappy Parquet, partitioned by date columns — see SURVEY.md
§1.1, §1.4) as plain ``spark.read.parquet`` / ``df.write.partitionBy``.

At 100 TB the things that matter here are:

- **partitioned layout** (``year/month[/day]``) so date filters prune at
  the directory level before any I/O happens;
- **columnar Parquet** so column pruning + predicate pushdown reach the
  scan (check ``PushedFilters`` / ``ReadSchema`` in ``.explain``);
- **no driver-side data movement** — every read/write is a distributed
  Spark job.

Every :class:`Lake` mutation publishes through ONE staged commit,
:func:`_commit`: one Spark write into a stage dir, untouched files
hard-linked in, the applied-batch ledger, schema and bloom-index
sidecars riding the stage, then a two-rename swap. Each mutation enters
through one crash-recovery sweep for its kind (:func:`_enter`), and the
key-pruned ones (purge, merge, SCD2 merge) share one footer-envelope
prune (:func:`_key_files` + :func:`_hit_rels`).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import tracked_mkdtemp

#: Tables generated by the test-data driver (TPC-H-ish star schema plus an
#: event stream, a documents corpus, and an embeddings table).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

LAYERS = ("bronze", "silver", "gold", "quarantine", "state")


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables from ``sf_dir``."""
    return {t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")) for t in tables}


def raw_ts_us_expr(ts_type: str) -> str:
    """SQL expression deriving epoch-microsecond ``ts_us`` from a raw
    ``ts`` column, adapted to how the parquet writer typed it:

    - ``bigint`` — raw nanoseconds (Spark reads parquet TIMESTAMP(NANOS)
      as BIGINT under the ``nanosAsLong`` conf): integer ``div 1000``.
    - ``timestamp_ntz`` — parquet TIMESTAMP(MICROS, no tz):
      ``timestampdiff`` against the NTZ epoch, which never consults the
      session timezone.
    - ``timestamp`` — TIMESTAMP(MICROS, UTC-adjusted): ``unix_micros``
      is absolute-instant based, also session-tz-free.

    All three are pure arithmetic on the stored value — event-time
    semantics stay deterministic on any cluster, any session timezone.
    """
    t = ts_type.lower()
    if t in ("bigint", "long"):
        return "ts div 1000"
    if t == "timestamp_ntz":
        return "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    if t == "timestamp":
        return "unix_micros(ts)"
    raise TypeError(f"unsupported events.ts type: {ts_type}")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the ``events`` table with tz-free event-time columns.

    The driver's parquet has carried ``ts`` as nanosecond timestamps
    (which Spark's vectorized reader only accepts as raw BIGINT via the
    legacy ``nanosAsLong`` conf) in some rounds and TIMESTAMP(MICROS)
    (Spark ``timestamp_ntz``) in others; :func:`raw_ts_us_expr` adapts.
    Downstream, everything keys off integer ``ts_us`` / ``event_date`` /
    ``event_hour`` so results never depend on the session timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_us = raw_ts_us_expr(dict(ev.dtypes)["ts"])
    return (
        ev.withColumn("ts_us", F.expr(ts_us))
        .withColumn(
            "event_date",
            F.expr(f"date_add(date'1970-01-01', cast(({ts_us}) div 86400000000 as int))"),
        )
        .withColumn("event_hour", F.expr(f"cast((({ts_us}) % 86400000000) div 3600000000 as int)"))
    )


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted a mutation while another held the
    table's writer lock. The mutation was NOT started — retry after the
    other writer finishes (the loser fails fast instead of interleaving
    swap stages with the winner)."""


def _table_lock(path: str, wait_s: float = 0.0):
    """Single-writer fence for a table directory, KERNEL-OWNED: mutual
    exclusion is ``flock(2)`` on a per-table ``<table>__lock`` file.
    The swap machinery (:func:`_atomic_swap` / :func:`_recover_swap`)
    is crash-safe for ONE writer; two concurrent mutations could
    interleave their stage/old renames — the lock makes the second fail
    fast with :class:`ConcurrentWriteError` instead, or, with
    ``wait_s`` > 0, QUEUE behind the live holder for up to that many
    seconds.

    flock gives exactly the two properties a pid-file protocol has to
    approximate with races: a crashed writer's lock releases
    AUTOMATICALLY with its file descriptors (no stale state exists, so
    there is nothing to reap and no reap/recreate race — the hole every
    unlink- or rename-based cleanup protocol carries under concurrent
    waiters), and each ``open()`` is its own lock owner, so threads of
    one process serialize exactly like separate processes. The lock
    file is created once and NEVER unlinked: removing it would let a
    waiter lock an orphaned inode while a newcomer re-creates the path
    — two winners. The holder's pid is written into the file purely as
    a DIAGNOSTIC for the fail-fast error message (cleared on release).

    Scope: local filesystems (the deployment model here). On NFS use
    ``fcntl`` byte-range locks; on a shared object store, the store's
    conditional-put CAS.
    """
    import contextlib

    @contextlib.contextmanager
    def _ctx():
        import fcntl
        import time as _time

        lock = path + "__lock"
        os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            deadline = _time.monotonic() + wait_s
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                # ONLY EWOULDBLOCK is contention; any other OSError
                # (ENOLCK, EBADF) is a real failure and must propagate,
                # not masquerade as a held lock naming an innocent pid
                except BlockingIOError:
                    if _time.monotonic() < deadline:
                        _time.sleep(0.05)  # queue behind the live holder
                        continue
                    try:
                        with open(lock) as f:
                            holder = f.read().strip() or "?"
                    except OSError:
                        holder = "?"
                    raise ConcurrentWriteError(
                        f"{path} is being mutated by pid {holder} "
                        f"(lock: {lock}); retry after it finishes"
                    )
            try:
                os.ftruncate(fd, 0)
                os.write(fd, str(os.getpid()).encode())
                yield
            finally:
                os.ftruncate(fd, 0)  # clear the diagnostic; file persists
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)

    return _ctx()


def _serialized(fn):
    """Decorator serializing a Lake mutation under the table's writer
    lock. Every mutation method names its target with ``layer`` /
    ``table`` parameters; the lock spans the whole mutation (recovery
    sweep, staging job, swap), so a concurrent second writer on the
    same table gets :class:`ConcurrentWriteError` up front."""
    import functools
    import inspect

    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        ba = sig.bind(self, *args, **kwargs)
        with _table_lock(
            self.path(ba.arguments["layer"], ba.arguments["table"]),
            wait_s=getattr(self, "lock_wait_s", 0.0),
        ):
            return fn(self, *args, **kwargs)

    return wrapper


@dataclass
class Lake:
    """A local layered Parquet lake rooted at ``root``.

    Mirrors the reference bucket layout (``design.md:87-109``):
    ``<root>/<layer>/<table>/[partition dirs]/part-*.parquet`` with an
    optional JSON schema registry for declared (silver+) schemas.

    Every mutating method is ``@_serialized``: one writer per table at a
    time, concurrent writers fail fast with :class:`ConcurrentWriteError`
    rather than interleaving swap stages. Readers are never blocked
    (they see either the old or the new table, per the atomic swap).
    ``lock_wait_s`` > 0 switches a blocked writer from fail-fast to
    QUEUE: it polls for the lock up to that many seconds before raising
    — the batch-pipeline mode, where independent maintenance jobs on
    one table should serialize, not crash.
    """

    root: str
    schemas: dict[str, str] = field(default_factory=dict)  # table -> DDL string
    lock_wait_s: float = 0.0  # 0 = fail fast; >0 = queue up to this long
    #: MERGE key-path threshold: a batch with at most this many distinct
    #: lead keys uses the BROADCAST path (keys collected once for the
    #: footer prune, broadcast for the joins — right for micro-batches);
    #: above it, merge_changes/merge_scd2 switch to the DISTRIBUTED path
    #: (keys joined against a file-envelope frame, shuffle anti-joins),
    #: so a backfill-sized CDC delta never pushes its key set through
    #: driver memory. Delta/Iceberg make the same switch metadata-side.
    merge_broadcast_keys: int = 1_000_000
    #: AUTO-COMPACTION policy (opt-in): when set, merge_changes /
    #: merge_scd2 check the table's data-file count after their swap
    #: (still under the writer fence) and run the compact rewrite when
    #: it exceeds this bar — so a stream of micro-batch merges (each
    #: adding survivor part files) keeps file counts bounded without a
    #: separate maintenance scheduler, the Delta optimizeWrite/auto-
    #: compact analog. Hive partition layout and bloom indexes are
    #: preserved (compact rebuilds indexes into its staged tree).
    compact_after_files: int | None = None
    #: SNAPSHOT RETENTION policy (opt-in): when set, every
    #: :meth:`snapshot_version` commit auto-expires all but the newest
    #: this-many snapshots (same semantics and fence as
    #: ``expire_snapshots(keep_last=N)``) — a table snapshotted per
    #: micro-batch keeps bounded history without a separate retention
    #: scheduler.
    keep_snapshots: int | None = None

    def path(self, layer: str, table: str) -> str:
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
        return os.path.join(self.root, layer, table)

    # -- reads ---------------------------------------------------------------

    def read(self, spark: SparkSession, layer: str, table: str) -> DataFrame:
        """Schema-on-read Parquet scan (bronze); declared schema if registered."""
        path = self.path(layer, table)
        sj = _read_schema_json(path)
        if sj is not None:
            # evolved table: the sidecar (written by merge_changes
            # evolve_schema=True, riding every staged swap) is the
            # authoritative logical schema — pre-evolution files read
            # the added columns as NULL
            return spark.read.schema(_schema_from_json(sj)).parquet(path)
        reader = spark.read
        ddl = self.schemas.get(f"{layer}.{table}")
        if ddl:
            reader = reader.schema(ddl)
        return reader.parquet(path)

    # -- writes --------------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        layer: str,
        table: str,
        partition_by: tuple[str, ...] = (),
        mode: str = "overwrite",
    ) -> str:
        """Partitioned snappy-Parquet sink (SURVEY.md §2.1 S5).

        Partition columns become directory levels, enabling partition
        pruning for downstream readers. Dynamic partition overwrite keeps
        incremental loads from clobbering sibling partitions.
        """
        path = self.path(layer, table)
        writer = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return path

    def write_clustered(
        self,
        df: DataFrame,
        layer: str,
        table: str,
        cols: tuple[str, ...],
        target_file_mb: int = 128,
    ) -> str:
        """Key-clustered INITIAL load: one write with :meth:`cluster_by`'s
        layout (``repartitionByRange`` + ``sortWithinPartitions``) instead
        of write-then-cluster_by — which costs a second, table-sized
        rewrite plus a row-count job to size it (guide §1.2: don't write
        the same bytes twice). Layout and data-skipping behavior match
        cluster_by: per-file [min,max] envelopes are narrow and disjoint.

        Task count is SCALE-ADAPTIVE and matches cluster_by's sizing: the
        optimizer's size estimate for ``df`` over ``target_file_mb``
        (cluster_by uses the written bytes), capped defensively in case
        the estimate is the unknown sentinel. Deliberately NO
        defaultParallelism floor: a per-core floor is a local-mode
        flavored choice that at toy scale multiplied every subsequent
        merge's file count for nothing (measured: streaming_lake_cdc_
        snapshot +40% with a 32-file floor — its three micro-batch
        merges rewrite every envelope-hit file), while at real scale
        bytes/target already exceeds any core count."""
        import math

        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        n = max(1, math.ceil(min(est, 1 << 50) / (target_file_mb * 1e6)))
        return self.write(
            df.repartitionByRange(n, *[F.col(c) for c in cols]).sortWithinPartitions(
                *cols
            ),
            layer,
            table,
        )

    def write_json_report(self, df: DataFrame, layer: str, table: str) -> str:
        """Small single-file JSON report sink (SURVEY.md §2.1 S6).

        ``coalesce(1)`` is correct *only* for tiny report frames — never
        use it on data-scale output.
        """
        path = self.path(layer, table)
        df.coalesce(1).write.mode("overwrite").json(path)
        return path

    # -- maintenance ---------------------------------------------------------

    @_serialized
    def compact(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        target_file_mb: int = 128,
        partition_by: tuple[str, ...] = (),
    ) -> dict:
        """Small-file compaction: incremental appends (streaming
        micro-batches, per-run ingests) leave hundreds of tiny part
        files, and at 100 TB the scan's task-scheduling and footer-read
        overhead becomes the bottleneck — the fix is a periodic rewrite
        into ~``target_file_mb`` files.

        Sizing: coarse parallelism = ceil(total_bytes / target) via
        ``repartition`` (by the partition columns when given, so each
        partition directory's rows land in as few tasks as possible),
        then ``maxRecordsPerFile`` splits oversized tasks at write time.
        The rewrite goes to a sibling temp dir and is swapped in after
        success — readers never see a half-written table. On an object
        store, use a lakehouse format's OPTIMIZE instead of directory
        swaps.

        Returns a report dict (files/bytes before and after).
        """
        return self._compact_inner(spark, layer, table, target_file_mb, partition_by)

    def _compact_inner(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        target_file_mb: int,
        partition_by: tuple[str, ...],
    ) -> dict:
        """Lock-free body of :meth:`compact` — also invoked by the
        merges' ``compact_after_files`` auto-compaction hook, which
        already holds the table's writer fence."""
        path = _enter(self.path(layer, table), "compact")
        rows, before_files, before_bytes = _rewrite(
            spark,
            path,
            "compact",
            target_file_mb,
            lambda df, n: df.repartition(*partition_by) if partition_by else df.repartition(n),
            partition_by,
        )
        after_files, after_bytes = _file_stats(path)
        return {
            "table": f"{layer}.{table}",
            "rows": rows,
            "files_before": before_files,
            "files_after": after_files,
            "bytes_before": before_bytes,
            "bytes_after": after_bytes,
        }

    def _maybe_autocompact(
        self, spark: SparkSession, layer: str, table: str
    ) -> dict | None:
        """The merges' post-swap auto-compaction hook (fence already
        held): rewrite when the data-file count passes
        ``compact_after_files``. Partition layout is inferred so the
        rewrite preserves it; the streaming writers get bounded file
        counts for free. Cost note: compaction is a FULL rewrite, so
        the bar trades write amplification against scan overhead —
        at a micro-batch cadence set it to a few × the steady-state
        file count (it then fires every ~N batches, amortized)."""
        bar = self.compact_after_files
        if not bar:
            return None
        path = self.path(layer, table)
        if len(_data_file_rels(path)) <= bar:
            return None
        return self._compact_inner(
            spark, layer, table, 128, tuple(_partition_cols(path))
        )

    @_serialized
    def purge_keys(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        key_col: str,
        keys: DataFrame,
    ) -> dict:
        """Delete-propagation rewrite — the opt-out / right-to-be-
        forgotten pass a training-data lake must support: every row of
        ``layer.table`` whose ``key_col`` appears in ``keys`` (a
        1-column DataFrame) is removed and the table is swapped to the
        purged copy in two directory renames (readers racing the swap
        can see the table path absent for that instant; a crash between
        the renames is repaired by the recovery sweep at the start of
        the next maintenance call).

        **File-pruned**: only files whose parquet-footer ``key_col``
        [min,max] envelope intersects the opt-out set are rewritten —
        untouched files are hard-linked into the new table directory
        byte-identical (same inode, same mtime). On a key-clustered
        table (:meth:`cluster_by`) this turns delete propagation from
        O(table) into O(affected files): the difference between a
        nightly and an hourly compliance pass at 100 TB. Files without
        usable stats are conservatively rewritten. The opt-out list is
        user-request-sized (thousands, not billions) — it is collected
        once for the pruning check and broadcast for the ``left_anti``
        rewrite, and the audit counts ride the rewrite itself (parquet
        footer row counts of the live and the staged files, see
        :func:`_stage_rows`), so no extra Spark pass runs before or
        after the rewrite. On a lakehouse format
        this is DELETE + VACUUM; the audit dict (rows before / removed
        / after, files rewritten / linked) is what the compliance log
        records either way.

        Leaves no tombstones: the purged rows are physically gone from
        the live table (the ``__prepurge`` dir is deleted after the
        swap), which is the semantics an erasure request requires.
        If :meth:`snapshot_version` time-travel snapshots exist, pair
        the purge with :meth:`expire_snapshots` — snapshots predating
        the purge intentionally preserve the pre-purge bytes.
        """
        path = _enter(self.path(layer, table), "purge")
        keys_df = keys.toDF(key_col)
        files_by_col = _key_files(path, (key_col,))
        files = files_by_col[0]
        rows_before = sum(f[1] for f in files)
        hit = _hit_rels(spark, files_by_col, (key_col,), keys_df, large=False)
        affected = [f for f in files if f[0] in hit]
        audit = {
            "table": f"{layer}.{table}",
            "key_col": key_col,
            "files_total": len(files),
            "files_rewritten": len(affected),
        }
        if not affected:  # no file can hold an opt-out row: zero-IO pass
            return {
                **audit,
                "rows_before": rows_before,
                "rows_removed": 0,
                "rows_after": rows_before,
            }
        kept = _read_table(
            spark, path, [os.path.join(path, f[0]) for f in affected]
        ).join(F.broadcast(keys_df), key_col, "left_anti")
        part_cols = _partition_cols(path)
        kept_rows = _commit(
            spark,
            path,
            "purge",
            lambda stage: _writer(kept, part_cols).parquet(stage),
            src=path,
            keep=[f[0] for f in files if f[0] not in hit],
        )
        affected_before = sum(f[1] for f in affected)
        return {
            **audit,
            "rows_before": rows_before,
            "rows_removed": affected_before - kept_rows,
            "rows_after": rows_before - (affected_before - kept_rows),
        }

    @_serialized
    def merge_changes(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        changes: DataFrame,
        key_col: str | tuple[str, ...],
        ts_col: str,
        op_col: str = "op",
        tiebreak_cols: tuple[str, ...] = (),
        batch_id: str | None = None,
        evolve_schema: bool = False,
        update_cols: tuple[str, ...] = (),
    ) -> dict:
        """MERGE INTO for the parquet lake: apply a CDC changelog batch
        (upserts + 'D' tombstones, latest change per key winning by
        ``(ts_col, *tiebreak_cols)`` — the exact
        :func:`~dataengineeringpipeline_spark.scd.cdc_apply` semantics)
        to ``layer.table``, physically rewriting ONLY the files whose
        parquet-footer ``key_col`` envelope intersects the touched keys.

        ``batch_id`` gives the merge the same exactly-once retry
        contract as :meth:`merge_scd2`: the applied-batch ledger rides
        the swap, so a crash-replayed streaming micro-batch
        (:func:`streaming.stream_cdc_merge`) whose merge committed
        before its checkpoint did is a ``skipped_replay`` no-op.

        The same O(affected files) economics as :meth:`purge_keys`:
        untouched files hard-link into the staged table byte-identical;
        on a key-clustered table a batch touching one key range leaves
        the rest of the table's files alone. The touched-key list is
        batch-sized (a CDC batch is hours of changes, not the table) —
        collected once for the footer check, broadcast for the
        ``left_anti``. Survivor rows (upserts + inserts) are written as
        new part files in the staged table regardless of envelopes, so
        inserts of brand-new keys need no file rewrite at all. Swap and
        crash recovery are shared with compact/cluster_by/purge_keys.

        ``evolve_schema=True`` is ADD-COLUMN schema evolution (the Delta
        ``mergeSchema`` analog): columns in ``changes`` that the table
        lacks are appended to the table's logical schema; existing rows
        read them as NULL. No data files are rewritten for the evolution
        itself — the evolved schema lands in a ``_table_schema.json``
        sidecar that rides the same atomic swap as the data and the
        ledger, and every reader/mutation applies it
        (:func:`_read_table`), so at 100 TB adding a column is O(batch),
        not O(table). A later :meth:`compact`/:meth:`cluster_by` bakes
        the schema into the physical files and drops the sidecar. Type
        CHANGES of existing columns are rejected loudly (widen by adding
        a new column instead); without ``evolve_schema``, unknown
        columns in ``changes`` are ignored (the pre-evolution contract).

        ``key_col`` may be a TUPLE for composite business keys (e.g. a
        rule summary's grain ``(year, month, status)``): latest-per-key
        and the rewrite's ``left_anti`` run on the full tuple, while the
        footer envelope prune uses EVERY key column with usable file
        stats — per-column hit sets intersected, each independently
        conservative (a file excluded by any dimension cannot hold any
        touched tuple) — so a low-cardinality lead key still prunes
        when any later key is selective. Order the tuple
        most-selective-first and cluster the table by the lead column
        for the O(affected files) economics.

        ``update_cols`` switches from whole-row replacement to PARTIAL
        updates (the ``MERGE ... UPDATE SET col=...`` form): change rows
        carry only the keys, merge metadata, and the named columns; an
        existing key's other columns KEEP their stored values, a
        brand-new key inserts with NULLs for the unnamed columns, and
        'D' still deletes. Same file-pruned rewrite — the old rows the
        patch needs live exactly in the affected files already being
        read.
        """
        from .scd import cdc_apply  # latest-per-key semantics, one code path

        key_cols = (key_col,) if isinstance(key_col, str) else tuple(key_col)
        path = _enter(self.path(layer, table), "merge")
        applied = _read_ledger(path)
        files_by_col = _key_files(path, key_cols)  # composite keys: see _hit_rels
        files = files_by_col[0]
        rows_before = sum(f[1] for f in files)
        audit = {
            "table": f"{layer}.{table}",
            "key_col": key_cols[0] if len(key_cols) == 1 else key_cols,
            "files_total": len(files),
        }
        if batch_id is not None and batch_id in applied:
            # crash-replayed batch: already committed, no-op
            return _unchanged(audit, rows_before, rows_upserted=0, skipped_replay=True)
        new_applied = applied + ([batch_id] if batch_id is not None else [])
        table_schema = _read_table(spark, path).schema
        schema_json = _read_schema_json(path)
        if evolve_schema:
            have = {f.name: f.dataType for f in table_schema.fields}
            # merge METADATA (op flag, ordering columns) is not payload:
            # it evolves into the table only if the table already has it
            skip = {op_col, ts_col, *tiebreak_cols}
            conflicts = [
                f"{f.name}: table {have[f.name].simpleString()} vs "
                f"changes {f.dataType.simpleString()}"
                for f in changes.schema.fields
                if f.name in have and f.dataType != have[f.name]
            ]
            if conflicts:
                raise ValueError(
                    f"{layer}.{table}: evolve_schema only ADDS columns; "
                    f"type changes rejected: {conflicts}"
                )
            added = [
                f for f in changes.schema.fields
                if f.name not in have and f.name not in skip
            ]
            if added:
                from pyspark.sql.types import StructField, StructType

                table_schema = StructType(
                    [*table_schema.fields]
                    + [StructField(f.name, f.dataType, True) for f in added]
                )
                schema_json = table_schema.json()
        table_cols = [f.name for f in table_schema.fields]

        order = [F.col(ts_col).desc(), *[F.col(c).desc() for c in tiebreak_cols]]
        from pyspark.sql.window import Window

        latest = (
            changes.withColumn(
                "_rn",
                F.row_number().over(Window.partitionBy(*key_cols).orderBy(*order)),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .persist()
        )
        try:
            # ONE aggregate job over the persisted frame yields both the
            # key count (drives the broadcast/distributed path choice)
            # and the upsert count (the audit's rows_upserted: survivors
            # == latest non-tombstone rows per key in BOTH whole-row and
            # update_cols modes, since the table is keyed) — previously
            # a second count job after the write paid for the latter.
            counts = latest.agg(
                F.count(F.lit(1)).alias("k"),
                F.count(F.when(F.col(op_col) != "D", True)).alias("u"),
            ).first()
            n_keys, n_upserts = counts["k"], counts["u"]
            large = n_keys > self.merge_broadcast_keys
            audit["key_path"] = "distributed" if large else "broadcast"
            if not n_keys:  # empty batch: zero-IO merge (ledger still commits)
                if batch_id is not None:
                    _write_ledger_atomic(path, new_applied)
                if evolve_schema and schema_json is not None:
                    _write_schema_json(path, schema_json)  # evolution alone
                return _unchanged(audit, rows_before, rows_upserted=0)
            hit = _hit_rels(spark, files_by_col, key_cols, latest, large)
            affected = [f for f in files if f[0] in hit]
            audit["files_rewritten"] = len(affected)
            # above the threshold the key set stays distributed: no
            # broadcast of the touched keys, shuffle anti/inner joins
            # instead (AQE may still pick broadcast when the batch turns
            # out small — the point is the DRIVER never holds the keys)
            bt = (lambda d: d) if large else F.broadcast
            touched = latest.select(*key_cols)
            upd = latest.filter(F.col(op_col) != "D")
            if update_cols:
                if evolve_schema:
                    raise ValueError(
                        "update_cols and evolve_schema are mutually exclusive: "
                        "evolve the schema with a full-row batch first"
                    )
                bad = [c for c in update_cols if c not in table_cols or c in key_cols]
                if bad:
                    raise ValueError(
                        f"update_cols must name non-key table columns; bad: {bad}"
                    )
            else:
                survivors = upd.select(*table_cols)
            if affected:
                old_aff = _read_table(
                    spark, path, [os.path.join(path, f[0]) for f in affected]
                )
            else:
                old_aff = spark.createDataFrame([], table_schema)
            kept = old_aff.join(bt(touched), list(key_cols), "left_anti")
            # evolution in THIS batch: existing rows read the added
            # columns as typed NULLs
            kept = kept.select(
                *[
                    F.col(f.name)
                    if f.name in kept.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in table_schema.fields
                ]
            )
            if update_cols:
                # MERGE ... UPDATE SET subset: patch existing rows' named
                # columns, keep the rest; brand-new keys insert NULL-padded.
                # The envelope prune is the correctness fence — every file
                # that can hold a touched key is in old_aff, so a key
                # absent there is genuinely new.
                patch = upd.select(*key_cols, *update_cols)
                patched = old_aff.alias("o").join(
                    bt(patch.alias("c")), list(key_cols), "inner"
                ).select(
                    *[
                        F.col(f"c.{c}").alias(c)
                        if c in update_cols
                        else F.col(f"o.{c}").alias(c)
                        for c in table_cols
                    ]
                )
                inserts = patch.join(
                    old_aff.select(*key_cols), list(key_cols), "left_anti"
                )
                pad_types = {f.name: f.dataType for f in table_schema.fields}
                inserts = inserts.select(
                    *[
                        F.col(c)
                        if c in inserts.columns
                        else F.lit(None).cast(pad_types[c]).alias(c)
                        for c in table_cols
                    ]
                )
                survivors = patched.unionByName(inserts)
            # ONE action computes the stage; the merged-row audit count
            # comes from the staged files' parquet footers (_commit) and
            # rows_upserted from the counts job above
            merged = kept.unionByName(survivors)
            part_cols = _partition_cols(path)
            merged_rows = _commit(
                spark,
                path,
                "merge",
                lambda stage: _writer(merged, part_cols).parquet(stage),
                src=path,
                keep=[f[0] for f in files if f[0] not in hit],
                ledger=new_applied,
                schema_json=schema_json,
            )
            ac = self._maybe_autocompact(spark, layer, table)
            affected_before = sum(f[1] for f in affected)
            return {
                **audit,
                "rows_before": rows_before,
                "rows_after": rows_before - affected_before + merged_rows,
                "rows_upserted": n_upserts,
                **({"auto_compacted_to_files": ac["files_after"]} if ac else {}),
            }
        finally:
            latest.unpersist()

    @_serialized
    def merge_scd2(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        updates: DataFrame,
        key_col: str | tuple[str, ...],
        attr_cols: tuple[str, ...],
        ts_col: str,
        tiebreak_cols: tuple[str, ...] = (),
        carry_cols: tuple[str, ...] = (),
        batch_id: str | None = None,
        evolve_schema: bool = False,
    ) -> dict:
        """MERGE INTO for an SCD2 history table: apply an update batch
        (the :func:`~dataengineeringpipeline_spark.scd.scd2_apply_changes`
        semantics — touched keys' histories re-derived with splice /
        suppression, untouched keys untouched) while physically
        rewriting ONLY the files whose parquet-footer ``key_col``
        envelope intersects the touched-key set.

        ``batch_id`` gives the merge exactly-once retry semantics for a
        streaming consumer (:func:`streaming.stream_scd2_updates`):
        applied ids live in a ``_applied_batches.json`` ledger written
        into the staged tree before the swap — "merged" and "recorded"
        commit atomically, so a crash-replayed micro-batch whose merge
        committed before its checkpoint did is a no-op
        (``skipped_replay`` in the audit) instead of a double-apply.

        The same O(affected files) economics as :meth:`merge_changes`:
        a dimension-update batch touching thousands of keys on a
        key-clustered billion-row history rewrites the few files holding
        those keys; every other file hard-links into the staged table
        byte-identical (same inode, same mtime). Because SCD2 re-derives
        a key's WHOLE history, the envelope prune is also the
        correctness fence — every file that can contain a touched key's
        versions is read (footer stats are conservative: files without
        usable stats are rewritten). The touched-key list is batch-sized
        and collected once for the footer check; brand-new keys' fresh
        histories are written as new part files without rewriting
        anything. Swap + crash recovery shared with
        compact/purge_keys/merge_changes.

        ``evolve_schema=True`` is ADD-ATTRIBUTE evolution for the
        history (the SCD2 face of :meth:`merge_changes`'s add-column
        path): names in ``attr_cols`` the table lacks are appended to
        its logical schema via the ``_table_schema.json`` sidecar —
        historical versions read them as NULL with no file rewrite, and
        a touched key's re-derivation sees NULL→value as an ordinary
        attribute change (the old version closes, the new one opens
        carrying the new attribute). Type changes of existing columns
        are rejected loudly.

        ``key_col`` may be a TUPLE for composite business keys: the
        per-key history re-derivation runs on the full tuple, while the
        footer envelope prune intersects EVERY key column with usable
        file stats — the same conservatism and economics as
        :meth:`merge_changes`'s composite path.
        """
        from .scd import scd2_apply_changes  # one code path for the logic

        key_cols = (key_col,) if isinstance(key_col, str) else tuple(key_col)
        path = _enter(self.path(layer, table), "scd2merge")
        applied = _read_ledger(path)
        files_by_col = _key_files(path, key_cols)
        files = files_by_col[0]
        rows_before = sum(f[1] for f in files)
        audit = {
            "table": f"{layer}.{table}",
            "key_col": key_cols[0] if len(key_cols) == 1 else key_cols,
            "files_total": len(files),
        }
        if batch_id is not None and batch_id in applied:
            # crash-replayed batch: already committed, no-op
            return _unchanged(audit, rows_before, skipped_replay=True)
        new_applied = applied + ([batch_id] if batch_id is not None else [])
        keys_df = updates.select(*key_cols).distinct().persist()
        try:
            n_keys = keys_df.count()  # served from the persist
            large = n_keys > self.merge_broadcast_keys
            audit["key_path"] = "distributed" if large else "broadcast"
            if not n_keys:  # empty batch: zero-IO merge (ledger still commits)
                if batch_id is not None:
                    _write_ledger_atomic(path, new_applied)
                return _unchanged(audit, rows_before)
            hit = _hit_rels(spark, files_by_col, key_cols, keys_df, large)
            affected = [f for f in files if f[0] in hit]
        finally:
            keys_df.unpersist()
        audit["files_rewritten"] = len(affected)
        table_df = _read_table(spark, path)
        schema_json = _read_schema_json(path)
        added: list = []
        if evolve_schema:
            have = {f.name: f.dataType for f in table_df.schema.fields}
            upd_types = {f.name: f.dataType for f in updates.schema.fields}
            conflicts = [
                f"{c}: table {have[c].simpleString()} vs updates "
                f"{upd_types[c].simpleString()}"
                for c in attr_cols
                if c in have and c in upd_types and have[c] != upd_types[c]
            ]
            if conflicts:
                raise ValueError(
                    f"{layer}.{table}: evolve_schema only ADDS attributes; "
                    f"type changes rejected: {conflicts}"
                )
            added = [c for c in attr_cols if c not in have]
            missing = [c for c in added if c not in upd_types]
            if missing:
                raise ValueError(
                    f"{layer}.{table}: new attr_cols {missing} are absent "
                    "from the updates batch"
                )
            if added:
                pads = [F.lit(None).cast(upd_types[c]).alias(c) for c in added]
                table_df = table_df.select("*", *pads)
                schema_json = table_df.schema.json()
        if affected:
            dim_aff = _read_table(
                spark, path, [os.path.join(path, f[0]) for f in affected]
            )
            if added:
                dim_aff = dim_aff.select("*", *pads)
        else:
            dim_aff = table_df.limit(0)
        # ONE action computes the stage; the merged-row audit count
        # comes from the staged files' parquet footers (_commit)
        merged = scd2_apply_changes(
            dim_aff,
            updates,
            key_cols=list(key_cols),
            attr_cols=list(attr_cols),
            ts_col=ts_col,
            tiebreak_cols=tiebreak_cols,
            carry_cols=carry_cols,
            broadcast_touched=not large,
        ).select(*table_df.columns)
        part_cols = _partition_cols(path)
        merged_rows = _commit(
            spark,
            path,
            "scd2merge",
            lambda stage: _writer(merged, part_cols).parquet(stage),
            src=path,
            keep=[f[0] for f in files if f[0] not in hit],
            ledger=new_applied,
            schema_json=schema_json,
        )
        ac = self._maybe_autocompact(spark, layer, table)
        affected_before = sum(f[1] for f in affected)
        return {
            **audit,
            "rows_before": rows_before,
            "rows_after": rows_before - affected_before + merged_rows,
            **({"auto_compacted_to_files": ac["files_after"]} if ac else {}),
        }

    @_serialized
    def replace_table(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
    ) -> str:
        """Full-table REPLACE behind the writer fence, readers never
        blocked: stage the new contents, carry the applied-batch ledger
        (the exactly-once memory must outlive a rebuild — a replayed
        streaming batch is still a no-op against the rebuilt table),
        rebuild the bloom index of every indexed column the new contents
        still have, swap atomically. The rebuild path for migrations
        (:func:`ivm.migrate_rule`) and any other schema-changing
        recompute where ``write``'s in-place overwrite would expose
        readers to a half-written table."""
        path = _enter(self.path(layer, table), "replace")
        _commit(
            spark,
            path,
            "replace",
            lambda stage: _writer(df, partition_by).parquet(stage),
            reindex=[c for c in _indexed_cols(path) if c in df.columns],
        )
        return path

    @_serialized
    def upsert_partitions(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        delta: DataFrame,
        partition_col: str,
        merge,
        batch_id=None,
    ) -> list:
        """Crash-safe partitioned merge — the transactional face of
        "read the touched partitions, merge the delta in, rewrite only
        those partitions". Returns the touched partition values.

        A plain dynamic-partition-overwrite maintenance pass is NOT
        idempotent under retry: the overwrite is not atomic across
        partitions, so a crash mid-write leaves some partitions already
        merged and a re-run double-counts the delta into them. Here the
        merged touched partitions are STAGED, every untouched
        partition's files hard-link into the stage byte-identical (same
        inode, same mtime — the O(delta) economics are unchanged), and
        the stage swaps in atomically: after a crash at ANY point the
        live table is either fully pre-delta or fully post-delta, never
        mixed, and :func:`_recover_swap` repairs a mid-swap crash.

        ``batch_id`` adds exactly-once retry semantics: applied ids are
        recorded in a ``_applied_batches.json`` ledger that RIDES THE
        SWAP (written into the staged tree before the rename), so
        "merged" and "recorded" commit in the same atomic step and a
        retry of an already-applied batch is a no-op — the same
        idempotence contract as the streaming batch-id layout, for batch
        maintenance. A LIST of ids commits them all in one swap (the
        stream-state compaction path): a retry where every id is
        already applied is a no-op; a partial overlap is a caller bug
        and errors loudly (ids folded together commit together).

        ``merge`` is ``(base_partials, delta) -> merged`` over the
        TOUCHED partition slice only (partition-pruned read).

        The delta is persisted for the call's duration: its subtree is
        typically a full fact-scan aggregation (``customer_partials``
        etc.), and both the touched-partition probe and the staged write
        consume it — without the persist each consumer re-runs the scan.
        """
        path = _enter(self.path(layer, table), "upsert")
        applied = _read_ledger(path)
        ids = (
            []
            if batch_id is None
            else [batch_id]
            if isinstance(batch_id, str)
            else list(batch_id)
        )
        hits = [i for i in ids if i in applied]
        if ids and len(hits) == len(ids):
            return []  # retry of a committed batch (set): no-op
        if hits:
            raise ValueError(
                f"{layer}.{table}: batch ids {hits} already applied but "
                f"{sorted(set(ids) - set(hits))} are not — ids folded "
                "together must commit together"
            )
        delta = delta.persist()
        try:
            touched = [
                r[partition_col]
                for r in delta.select(partition_col).distinct().collect()
            ]
            if not touched and not ids:
                return []
            new_applied = applied + ids
            if not os.path.isdir(path):
                # first load still routes through the merge (with an empty
                # base) so a delta carrying several partial rows per grain —
                # e.g. stacked streaming batches — lands collapsed, same as
                # every later upsert
                base, src, linked_rels = delta.limit(0), None, []
            elif not touched:  # empty delta, batch_id given: record it atomically
                _write_ledger_atomic(path, new_applied)
                return []
            else:
                from urllib.parse import unquote

                src, linked_rels = path, []
                touched_dirs = {f"{partition_col}={v}" for v in touched}
                for rel in _data_file_rels(path):
                    # a file is untouched iff it sits under a partition_col=
                    # dir whose value the delta does not hit; dir values
                    # PERCENT-DECODE before comparing (Spark escapes special
                    # chars in dir names — an escaped name comparing unequal
                    # would hard-link a touched partition's OLD file in
                    # beside its rewrite: duplicate rows)
                    comps = set(rel.split(os.sep)[:-1])
                    if not any(c.startswith(f"{partition_col}=") for c in comps):
                        raise ValueError(
                            f"{layer}.{table} has a data file outside any "
                            f"{partition_col}= directory ({rel}); upsert_partitions "
                            f"requires a table partitioned by {partition_col!r}"
                        )
                    if {unquote(c) for c in comps}.isdisjoint(touched_dirs):
                        linked_rels.append(rel)
                base = self.read(spark, layer, table).where(
                    F.col(partition_col).isin(touched)
                )
            merged = merge(base, delta).repartition(partition_col)
            # one write task per partition value: partitionBy from N
            # shuffle partitions would write N files per value (128
            # files for a 90k-row table, measured); partials tables
            # are grain-bounded so a value's rows always fit one task
            _commit(
                spark,
                path,
                "upsert",
                lambda stage: _writer(merged, (partition_col,)).parquet(stage),
                src=src,
                keep=linked_rels,
                ledger=new_applied,
            )
            return touched
        finally:
            delta.unpersist()

    # -- time travel: numbered snapshots with hard-linked retention ----------

    def _versions_root(self, layer: str, table: str) -> str:
        return self.path(layer, table) + "__versions"

    @_serialized
    def snapshot_version(self, layer: str, table: str) -> int:
        """Commit the table's CURRENT state as an immutable numbered
        snapshot (``<table>__versions/v=<n>``) by HARD-LINKING every
        data file — the Iceberg/Delta snapshot economics: O(files)
        metadata operations, zero bytes copied. The links are safe
        forever because every lake mutation here (``compact``,
        ``purge_keys``, ``merge_changes``, ``merge_scd2``,
        ``cluster_by``, dynamic-overwrite ``write``) STAGES a new file
        tree and swaps/replaces — data files are never edited in place —
        so a snapshot's inodes outlive any number of later mutations
        byte-identically. Returns the new version number.

        Crash-safe: the snapshot is built under a dotted temp dir and
        ``os.rename``d into place; an interrupted attempt leaves only a
        temp dir the next call removes.

        Each snapshot carries a ``_commit_us`` epoch-microsecond commit
        timestamp (a metadata file inside the version dir, so it rides
        the same atomic rename). Timestamps are forced strictly
        increasing across versions — ``AS OF`` timestamp resolution
        (:meth:`read_version`'s ``as_of``) is therefore unambiguous even
        for back-to-back commits.
        """
        import shutil
        import time

        if self.keep_snapshots is not None and self.keep_snapshots < 1:
            # same guard as expire_snapshots, BEFORE any work: a negative
            # policy would protect vs[N:] == [] and delete every snapshot
            # including the one about to be committed
            raise ValueError(
                f"keep_snapshots must be >= 1, got {self.keep_snapshots}"
            )
        path = self.path(layer, table)
        root = self._versions_root(layer, table)
        os.makedirs(root, exist_ok=True)
        for stale in os.listdir(root):  # interrupted prior attempts
            if stale.startswith(".tmp_"):
                shutil.rmtree(os.path.join(root, stale))
        existing = self.versions(layer, table)
        n = max(existing, default=0) + 1
        prev_us = max(
            (self._commit_us(layer, table, v) for v in existing), default=0
        )
        tmp = os.path.join(root, f".tmp_v{n}")
        _link_files(path, tmp, _data_file_rels(path))  # empty table too
        sj = _read_schema_json(path)
        if sj is not None:  # snapshots are self-describing
            _write_schema_json(tmp, sj)
        with open(os.path.join(tmp, "_commit_us"), "w") as f:
            f.write(str(max(time.time_ns() // 1_000, prev_us + 1)))
        os.rename(tmp, os.path.join(root, f"v={n}"))
        if self.keep_snapshots is not None:  # opt-in auto-retention, fence held
            self._expire_inner(layer, table, self.keep_snapshots, None)
        return n

    def _commit_us(self, layer: str, table: str, version: int) -> int:
        """Epoch-microsecond commit timestamp of a snapshot. Snapshots
        from before the timestamp feature fall back to the version
        directory's mtime."""
        vdir = os.path.join(self._versions_root(layer, table), f"v={version}")
        marker = os.path.join(vdir, "_commit_us")
        try:
            with open(marker) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return int(os.stat(vdir).st_mtime * 1_000_000)

    def versions(self, layer: str, table: str) -> list[int]:
        """Committed snapshot numbers, ascending."""
        root = self._versions_root(layer, table)
        if not os.path.isdir(root):
            return []
        return sorted(
            int(d[2:]) for d in os.listdir(root) if d.startswith("v=")
        )

    def resolve_as_of(self, layer: str, table: str, as_of) -> int:
        """``TIMESTAMP AS OF`` resolution: the NEWEST committed version
        whose commit timestamp is ≤ ``as_of`` (an epoch-microsecond int,
        or an ISO-8601 string — naive strings are read as UTC). Raises
        if every snapshot postdates ``as_of``."""
        us = _as_of_us(as_of)
        vs = [
            v
            for v in self.versions(layer, table)
            if self._commit_us(layer, table, v) <= us
        ]
        if not vs:
            commits = {
                v: self._commit_us(layer, table, v)
                for v in self.versions(layer, table)
            }
            raise ValueError(
                f"{layer}.{table} has no version at or before {as_of!r}; "
                f"commit timestamps (us): {commits}"
            )
        return max(vs)

    def read_version(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        version: int | None = None,
        as_of=None,
    ) -> DataFrame:
        """Time-travel read: the table exactly as it was at
        ``snapshot_version`` number ``version`` — or, with ``as_of``
        (epoch-microsecond int or ISO-8601 string), at the newest
        version committed at or before that instant (the Delta
        ``TIMESTAMP AS OF`` analog; see :meth:`resolve_as_of`).
        Partition directories are preserved inside the snapshot, so
        partition pruning works on historical reads too."""
        vdir = self._version_dir(layer, table, version, as_of)
        return _read_table(spark, vdir)  # applies the snapshot's own sidecar

    def _version_dir(self, layer: str, table: str, version, as_of) -> str:
        """Directory of the snapshot named by exactly one of ``version``
        and ``as_of``; raises ValueError listing what exists if none."""
        if (version is None) == (as_of is None):
            raise ValueError("pass exactly one of version= or as_of=")
        if as_of is not None:
            version = self.resolve_as_of(layer, table, as_of)
        vdir = os.path.join(self._versions_root(layer, table), f"v={version}")
        if not os.path.isdir(vdir):
            raise ValueError(
                f"{layer}.{table} has no version {version}; "
                f"available: {self.versions(layer, table)}"
            )
        return vdir

    def version_changes(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        v_old: int,
        v_new: int,
        key_cols: tuple[str, ...],
    ) -> DataFrame:
        """CHANGE DATA FEED between two committed snapshots (the Delta
        ``table_changes`` analog): one row per key whose payload changed
        between ``v_old`` and ``v_new``, tagged ``insert`` / ``delete`` /
        ``update``, with the pre- and post-image as structs. Keys whose
        payload is identical in both versions produce no row (a no-op
        upsert is not a change). One full-outer join on the keys over
        the two historical reads — downstream consumers replay a
        mutation they never observed live, without the table having
        logged anything at write time. Requires ``key_cols`` to be
        unique per version (the MERGE-target invariant).

        Plan note: this is deliberately a sort-merge full-outer join —
        both sides are table-sized (neither is broadcastable at any
        interesting scale) and SMJ is the spill-safe strategy for
        large-large full outer; the one key shuffle per side is the
        irreducible cost of diffing two snapshots without a write-time
        change log."""
        old = self.read_version(spark, layer, table, v_old)
        new = self.read_version(spark, layer, table, v_new)
        # diffing ACROSS a schema-evolution boundary: align both sides on
        # the union of columns, padding the narrower side with typed
        # NULLs — an old row whose payload is unchanged still produces no
        # change row (NULL == NULL under eqNullSafe)
        for f in new.schema.fields:
            if f.name not in old.columns:
                old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
        for f in old.schema.fields:
            if f.name not in new.columns:
                new = new.withColumn(f.name, F.lit(None).cast(f.dataType))
        payload = [c for c in old.columns if c not in key_cols]
        o = old.select(
            *key_cols, F.struct(*payload).alias("_pre")
        )
        n = new.select(
            *key_cols, F.struct(*payload).alias("_post")
        )
        j = o.join(n, list(key_cols), "full_outer")
        typ = (
            F.when(F.col("_pre").isNull(), F.lit("insert"))
            .when(F.col("_post").isNull(), F.lit("delete"))
            .when(~F.col("_pre").eqNullSafe(F.col("_post")), F.lit("update"))
        )
        return (
            j.withColumn("change_type", typ)
            .filter(F.col("change_type").isNotNull())
            .select(*key_cols, "change_type", F.col("_pre").alias("pre"), F.col("_post").alias("post"))
        )

    @_serialized
    def restore_version(
        self, layer: str, table: str, version: int | None = None, as_of=None
    ) -> None:
        """ROLLBACK: make the live table the exact state of snapshot
        ``version`` — or, with ``as_of``, of the newest snapshot
        committed at or before that instant (the Delta ``RESTORE TABLE
        ... VERSION/TIMESTAMP AS OF`` analogs). Stages hard links of the
        snapshot's files and swaps — zero bytes copied, crash-recovered
        like every other mutation, and the snapshot itself stays intact
        (restore is a read of history, not a consumption of it)."""
        vdir = self._version_dir(layer, table, version, as_of)
        # the SNAPSHOT's schema state (sidecar or none) is what restores:
        # rolling back past an evolution rolls the added columns back too;
        # the live ledger stays (restored data does not un-apply batches)
        _commit(
            None,
            _enter(self.path(layer, table), "restore"),
            "restore",
            lambda stage: None,
            src=vdir,
            keep=_data_file_rels(vdir),
        )

    def history(self, layer: str, table: str) -> list[dict]:
        """DESCRIBE HISTORY: per snapshot, the epoch-microsecond commit
        timestamp plus file, row, and COLUMN counts straight from
        parquet footers and the schema sidecar (metadata-only — no data
        read), newest last. ``n_columns`` reflects each version's OWN
        logical schema (evolved sidecar if present, else the newest
        footer), so an ADD-COLUMN evolution is visible in the history as
        the version where the count grew. The live table appears as
        version ``None`` (no commit timestamp)."""

        def stat(d: str) -> tuple[int, int, int | None]:
            rels = _data_file_rels(d)
            mds = _footer_metadata(d, rels)
            sj = _read_schema_json(d)
            if sj is not None:
                ncols = len(_schema_from_json(sj).fields)
            elif rels:
                # non-evolved: every footer agrees, any file's schema works
                ncols = len(mds[-1].schema.to_arrow_schema().names)
            else:
                ncols = None
            return len(rels), sum(md.num_rows for md in mds), ncols

        root = self._versions_root(layer, table)
        dirs = [(n, os.path.join(root, f"v={n}")) for n in self.versions(layer, table)]
        out = []
        for n, d in dirs + [(None, self.path(layer, table))]:
            files, rows, ncols = stat(d)
            out.append(
                {
                    "version": n,
                    "committed_us": None if n is None else self._commit_us(layer, table, n),
                    "files": files,
                    "rows": rows,
                    "n_columns": ncols,
                }
            )
        return out

    @_serialized
    def expire_versions(self, layer: str, table: str, keep: int) -> list[int]:
        """Drop all but the newest ``keep`` snapshots (returns the
        expired numbers). Retention is also the PRIVACY lever: a
        ``purge_keys`` forget-request is only complete once every
        snapshot predating it has expired — the purge rewrites the live
        table, but time-travel links intentionally preserve history.

        Legacy face of :meth:`expire_snapshots` (which adds
        ``older_than``, always retains the newest snapshot, and sweeps
        orphaned staging trees); ``keep=0`` here drops everything."""
        import shutil

        vs = self.versions(layer, table)
        drop = vs[:-keep] if keep > 0 else vs
        root = self._versions_root(layer, table)
        for n in drop:
            shutil.rmtree(os.path.join(root, f"v={n}"))
        return drop

    @_serialized
    def expire_snapshots(
        self,
        layer: str,
        table: str,
        keep_last: int | None = None,
        older_than=None,
    ) -> dict:
        """Snapshot retention — the missing half of
        :meth:`snapshot_version`'s unbounded hard-link growth (a table
        snapshotted per micro-batch otherwise accumulates version dirs
        and keeps every rewritten file's inode alive forever). The
        Iceberg ``expire_snapshots(older_than, retain_last)`` analog.

        Expiry rules:

        - the NEWEST snapshot is always retained (the anchor
          :meth:`restore_version` falls back to); ``keep_last`` < 1 is
          rejected;
        - ``keep_last=N`` retains the newest N; ``older_than`` (epoch-
          microsecond int or ISO-8601 string) expires only snapshots
          committed strictly before that instant; given BOTH, a
          snapshot expires only if both say so.

        Concurrency contract (the pinned-reader question): expiry runs
        under the table's writer fence and is a metadata-plane
        directory removal. A Spark scan ALREADY PLANNED over a version
        keeps reading correctly — on POSIX the data inodes live until
        the last hard link or open descriptor drops, and the live
        table / retained versions keep their links — but a NEW
        :meth:`read_version` / :meth:`resolve_as_of` /
        :meth:`restore_version` on an expired number raises
        ``ValueError`` listing what remains. Inodes owned EXCLUSIVELY
        by expired versions (rewritten away from the live table and
        every retained version) are freed. On a shared object store,
        route removal through the store's GC instead.

        PRIVACY: pair :meth:`purge_keys` with this — a forget request
        is complete only once every snapshot predating the purge has
        expired (snapshots intentionally preserve pre-purge bytes).

        Also VACUUMS orphaned staging trees (crashed mutations'
        ``__merging``/``__premerge``/... dirs, interrupted snapshot
        ``.tmp_`` dirs) — see :meth:`vacuum`. Returns
        ``{"expired": [...], "retained": [...],
        "stale_stages_removed": [...]}``.
        """
        if keep_last is None and older_than is None:
            raise ValueError("pass keep_last and/or older_than")
        if keep_last is not None and keep_last < 1:
            raise ValueError(
                "keep_last must be >= 1: the newest snapshot is always "
                "retained (use expire_versions(keep=0) to drop everything)"
            )
        return self._expire_inner(layer, table, keep_last, older_than)

    def _expire_inner(
        self, layer: str, table: str, keep_last: int | None, older_than
    ) -> dict:
        """Lock-free body of :meth:`expire_snapshots` — also invoked by
        :meth:`snapshot_version`'s ``keep_snapshots`` auto-retention,
        which already holds the table's writer fence."""
        import shutil

        vs = self.versions(layer, table)
        protect = set(vs[-(keep_last or 1):])
        cut = None if older_than is None else _as_of_us(older_than)
        drop = [
            v
            for v in vs
            if v not in protect
            and (cut is None or self._commit_us(layer, table, v) < cut)
        ]
        root = self._versions_root(layer, table)
        for n in drop:
            # rename-then-delete: a crash mid-rmtree must not leave a
            # HALF-deleted dir that versions()/read_version would serve
            # as a complete snapshot — the atomic rename takes it out of
            # the 'v=' namespace first, and an interrupted delete is a
            # .tmp_ dir the next vacuum/snapshot sweep removes
            doomed = os.path.join(root, f".tmp_expired_v{n}")
            os.rename(os.path.join(root, f"v={n}"), doomed)
            shutil.rmtree(doomed)
        vac = self._vacuum_inner(layer, table)
        return {
            "table": f"{layer}.{table}",
            "expired": drop,
            "retained": [v for v in vs if v not in drop],
            "stale_stages_removed": vac["removed"],
        }

    @_serialized
    def vacuum(self, layer: str, table: str) -> dict:
        """Sweep a table's orphaned staging state under the writer
        fence: crashed mutations' stage/old trees (``__merging`` /
        ``__premerge`` and friends — restoring a stranded pre-swap copy
        first, exactly like the per-mutation recovery each call runs)
        and interrupted snapshot ``.tmp_`` dirs. Every mutation already
        self-repairs its OWN suffixes on entry; vacuum is the
        whole-table sweep for tables whose next mutation may be far
        away (or that only ever get read)."""
        return self._vacuum_inner(layer, table)

    def _vacuum_inner(self, layer: str, table: str) -> dict:
        """Lock-free body of :meth:`vacuum` (callers hold the fence)."""
        import shutil

        path = self.path(layer, table)
        removed, restored = [], False
        for tmp, old in _SWAP_SUFFIXES.values():
            pre = [d for d in (path + tmp, path + old) if os.path.exists(d)]
            if pre and not os.path.exists(path):
                # the stranded pre-swap copy BECOMES the live table — it
                # was restored, not removed, and must not appear in the
                # removed list (an audit reading "deleted" for the dir
                # that became the data would misdescribe the recovery)
                restored = True
                pre = [d for d in pre if d != path + old]
            _recover_swap(path, tmp, old)
            removed += [os.path.basename(d) for d in pre if not os.path.exists(d)]
        vroot = self._versions_root(layer, table)
        if os.path.isdir(vroot):
            for d in os.listdir(vroot):
                if d.startswith(".tmp_"):
                    shutil.rmtree(os.path.join(vroot, d))
                    removed.append(os.path.join(os.path.basename(vroot), d))
        return {
            "table": f"{layer}.{table}",
            "removed": sorted(removed),
            "restored_live_table": restored,
        }

    @_serialized
    def cluster_by(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        cols: tuple[str, ...],
        target_file_mb: int = 128,
    ) -> dict:
        """Range-cluster a table on ``cols`` so parquet min/max column
        statistics become selective — the data-skipping layout knob.

        A table written in ingestion order interleaves every key range
        through every file, so a range predicate on a non-partition
        column (``ts BETWEEN ...``, ``custkey < ...``) overlaps ALL
        row-group [min,max] intervals and the scan prunes nothing. The
        rewrite here — ``repartitionByRange`` on ``cols`` +
        ``sortWithinPartitions`` — gives each file/row group a narrow,
        disjoint interval, so the same predicate prunes to the few row
        groups that actually contain the range. At 100 TB this is the
        difference between touching a handful of files and scanning the
        table; the same rewrite is what lakehouse OPTIMIZE ... ZORDER
        does for the single-column case (multi-column interleaving needs
        a space-filling curve; ``cols`` here is a priority order, which
        covers the overwhelmingly common leading-column probes).

        The report quantifies the effect with **read amplification** on
        the leading column: the expected number of row groups whose
        [min,max] interval contains a uniformly random point of the
        column's global range (``Σ width_i / global_width``). Perfectly
        clustered ≈ 1.0; unclustered ≈ the row-group count. Computed
        driver-side from parquet footers (metadata only, no data read).

        Same atomic tmp-dir swap as :meth:`compact`.
        """
        path = _enter(self.path(layer, table), "cluster")
        lead = cols[0]
        amp_before = _read_amplification(path, lead)
        rows, before_files, _before_bytes = _rewrite(
            spark,
            path,
            "cluster",
            target_file_mb,
            lambda df, n: df.repartitionByRange(n, *cols).sortWithinPartitions(*cols),
        )
        after_files, _after_bytes = _file_stats(path)
        return {
            "table": f"{layer}.{table}",
            "rows": rows,
            "cluster_cols": list(cols),
            "files_before": before_files,
            "files_after": after_files,
            "read_amplification_before": amp_before,
            "read_amplification_after": _read_amplification(path, lead),
        }

    @_serialized
    def cluster_by_zorder(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        cols: tuple[str, ...],
        bits: int = 8,
        target_file_mb: int = 128,
    ) -> dict:
        """Multi-column clustering via a Morton (Z-order) space-filling
        curve — the OPTIMIZE ... ZORDER analog for probes that hit ANY
        of ``cols``, where :meth:`cluster_by`'s lexicographic range
        clustering only serves the leading column.

        Each column maps to a ``2^bits``-bucket rank via its own
        approx-quantile boundaries (mergeable sketch, driver gets
        ``2^bits`` doubles — metadata-sized at any scale; quantile
        buckets, not min/max-uniform, so skewed columns still spread),
        the per-column bucket bits interleave into one integer z-value,
        and the rewrite is ``repartitionByRange(z) +
        sortWithinPartitions(z)`` — one range shuffle, same atomic
        tmp-dir swap as :meth:`compact`. A contiguous z-range block
        spans ~√N of each of two dimensions, so every clustered column
        gets row-group [min,max] intervals narrow enough to skip on —
        the report quantifies it as per-column read amplification
        before/after, from parquet footers only.
        """
        path = _enter(self.path(layer, table), "cluster")
        amp_before = {c: _read_amplification(path, c) for c in cols}
        nq = 1 << bits
        probs = [i / nq for i in range(1, nq)]

        def _bucket_pred(cname):
            # closure, not a default arg: a 2-parameter lambda would be
            # read by F.filter as (element, index)
            return lambda b: b <= F.col(f"_zd_{cname}")

        def zorder(df: DataFrame, n_tasks: int) -> DataFrame:
            proj = df.select(
                "*", *[F.col(c).cast("double").alias(f"_zd_{c}") for c in cols]
            )
            buckets = []
            for c in cols:
                bounds = proj.stat.approxQuantile(f"_zd_{c}", probs, 1.0 / (4 * nq))
                arr = F.array(*[F.lit(float(b)) for b in bounds])
                # bucket = count of boundaries <= value (0..2^bits-1)
                buckets.append(F.size(F.filter(arr, _bucket_pred(c))))
            z = F.lit(0).cast("long")
            for i in range(bits):
                for ci, b in enumerate(buckets):
                    bit = F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long")
                    z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + ci))
            return (
                proj.withColumn("_z", z)
                .repartitionByRange(n_tasks, "_z")
                .sortWithinPartitions("_z")
                .drop("_z", *[f"_zd_{c}" for c in cols])
            )

        rows, before_files, _before_bytes = _rewrite(
            spark, path, "cluster", target_file_mb, zorder
        )
        after_files, _after_bytes = _file_stats(path)
        return {
            "table": f"{layer}.{table}",
            "rows": rows,
            "cluster_cols": list(cols),
            "zorder_bits": bits,
            "files_before": before_files,
            "files_after": after_files,
            "read_amplification_before": amp_before,
            "read_amplification_after": {c: _read_amplification(path, c) for c in cols},
        }

    # -- per-file bloom index: point-lookup data skipping --------------------

    def build_file_index(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        col: str,
        fpp: float = 0.01,
    ) -> dict:
        """Build a PER-FILE BLOOM FILTER index on ``col`` — data
        skipping for point lookups where footer [min,max] envelopes
        can't prune (high-NDV keys scattered across an unclustered
        table: every file's range covers every key, but each file only
        CONTAINS a few).

        Distributed build: one pass over the table computes, per
        ``input_file_name``, the distinct bloom bit positions of its
        values (``k`` seeded ``xxhash64`` probes each ``pmod m`` — all
        hashing stays in Spark, so build and probe can never use
        different hash implementations); the driver only packs the
        position sets into bitmaps — O(files × m/8) bytes, never row
        data. The index lands in ``_file_bloom_<col>.json`` beside the
        data. It is ADVISORY: mutations rewrite files under new names,
        so a stale entry simply never matches and an unindexed file is
        conservatively read (:meth:`point_lookup` stays correct through
        any sequence of merges/compactions).

        ``m`` is sized from the largest file's row count and ``fpp``
        (standard ``m = -n·ln(fpp)/ln²2``, rounded up to a power of
        two), ``k = m/n·ln2`` capped by the seed pool.

        Mutations MAINTAIN the index: file-pruned rewrites
        (merge_changes / merge_scd2 / purge_keys) keep hard-linked
        files' entries and re-scan only the rewritten files with the
        same (m, k) (:func:`_carry_file_indexes`); full rewrites
        (compact / cluster_by) rebuild from scratch, INTO their staged
        tree, so the fresh index rides the same atomic swap as the
        data."""
        rep = _build_index_at(spark, self.path(layer, table), col, fpp)
        return {"table": f"{layer}.{table}", "col": col, **rep}

    def point_lookup(
        self,
        spark: SparkSession,
        layer: str,
        table: str,
        col: str,
        keys: list,
    ) -> tuple[DataFrame, dict]:
        """Point lookup with two-level data skipping: footer [min,max]
        envelopes first, then the per-file bloom index when present
        (:meth:`build_file_index`). Files without an index entry are
        conservatively read, so the result is always exactly
        ``WHERE col IN keys`` regardless of index staleness. Returns
        ``(rows, report)`` — the report's ``files_read``/``files_total``
        is the measured read amplification."""
        import base64

        path = self.path(layer, table)
        files = _key_envelopes(path, col)
        key_vals = sorted(set(keys))
        cands = [f for f in files if _envelope_hits(f[2], f[3], key_vals)]
        idx = _read_index(path, col)
        if idx:
            m, k = idx["m"], idx["k"]
            # xxhash64 is TYPE-sensitive (int and bigint hash differently):
            # probe values must carry exactly the table column's type
            dtype = _read_table(spark, path).schema[col].dataType.simpleString()
            probe = (
                spark.createDataFrame([(v,) for v in key_vals], [col])
                .select(F.col(col).cast(dtype).alias(col))
                .select(F.array(*_bloom_pos_exprs(col, m, k)).alias("_ps"))
            )
            probes = [r["_ps"] for r in probe.collect()]
            blooms = {
                rel: base64.b64decode(b64) for rel, b64 in idx["files"].items()
            }

            def may_contain(rel):
                bits = blooms.get(rel)
                if bits is None:
                    return True  # unindexed file: conservative read
                return any(
                    all(bits[p >> 3] & (1 << (p & 7)) for p in ps)
                    for ps in probes
                )

            cands = [f for f in cands if may_contain(f[0])]
        report = {
            "table": f"{layer}.{table}",
            "col": col,
            "files_total": len(files),
            "files_read": len(cands),
            "bloom_indexed": bool(idx),
        }
        if not cands:
            out = _read_table(spark, path).filter(F.lit(False))
        else:
            out = _read_table(
                spark, path, [os.path.join(path, f[0]) for f in cands]
            ).filter(F.col(col).isin(key_vals))
        return out, report

    # -- schema registry -----------------------------------------------------

    def declare_schema(self, layer: str, table: str, ddl: str) -> None:
        self.schemas[f"{layer}.{table}"] = ddl

    def save_registry(self) -> str:
        path = os.path.join(self.root, "_schemas.json")
        os.makedirs(self.root, exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.schemas, f, indent=2, sort_keys=True)
        return path


def _as_of_us(as_of) -> int:
    """Epoch microseconds from an ``AS OF`` argument: ints pass through;
    ISO-8601 strings parse via ``datetime.fromisoformat`` (naive strings
    are UTC — commit timestamps are wall-UTC, never session-tz)."""
    if isinstance(as_of, int):
        return as_of
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(str(as_of))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000)


#: (stage, old) directory-suffix pair per mutation kind — the recovery
#: sweep each mutation runs for its own kind on entry (:func:`_enter`),
#: the stage/old dirs :func:`_commit` swaps through, and the whole-table
#: list `Lake.vacuum` / `Lake.expire_snapshots` sweep.
_SWAP_SUFFIXES = {
    "compact": ("__compacting", "__precompact"),
    "cluster": ("__clustering", "__precluster"),
    "purge": ("__purging", "__prepurge"),
    "merge": ("__merging", "__premerge"),
    "scd2merge": ("__scd2merging", "__prescd2merge"),
    "replace": ("__replacing", "__prereplace"),
    "upsert": ("__upserting", "__preupsert"),
    "restore": ("__restoring", "__prerestore"),
}

#: Sidecar file recording batch ids already merged into a table — the
#: exactly-once memory for streaming consumers (`merge_scd2(batch_id=)`,
#: `upsert_partitions(batch_id=)`).
_LEDGER = "_applied_batches.json"
_SCHEMA = "_table_schema.json"


def _read_schema_json(path: str) -> str | None:
    """The evolved-schema sidecar's StructType JSON, or None if the
    table has never evolved (its physical file schemas are uniform)."""
    try:
        with open(os.path.join(path, _SCHEMA)) as f:
            return json.load(f)["schema_json"]
    except (OSError, KeyError, ValueError):
        return None


def _schema_from_json(schema_json: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(schema_json))


def _write_json_atomic(dirpath: str, name: str, obj) -> None:
    """Write a sidecar (ledger, schema, bloom index) via temp file +
    rename, so a reader never sees a half-written one."""
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.rename(tmp, os.path.join(dirpath, name))


def _write_schema_json(dirpath: str, schema_json: str) -> None:
    _write_json_atomic(dirpath, _SCHEMA, {"schema_json": schema_json})


def _read_table(spark: SparkSession, path: str, files: list[str] | None = None):
    """Schema-aware table read: applies the evolved-schema sidecar when
    present so files written before a column was added read that column
    as NULL (deterministic), instead of schema-on-read picking an
    arbitrary footer. ``files`` narrows to specific data files
    (footer-pruned reads) while keeping ``basePath`` partition
    discovery."""
    sj = _read_schema_json(path)
    reader = spark.read
    if files is not None:
        reader = reader.option("basePath", path)
    if sj is not None:
        reader = reader.schema(_schema_from_json(sj))
    return reader.parquet(*(files if files is not None else [path]))


_LEDGER_WINDOW = 64
_SEQ_RE = None  # compiled lazily (module import cost)


def _split_batch_id(bid) -> tuple[str, int] | None:
    """``(stream_pattern, seq)`` for a batch id, or ``None`` if the id
    carries no sequence number. The sequence is the LAST integer run in
    the id's string form; the stream pattern is the id with that run
    replaced by ``#`` — so ``cdc-7`` → ``("cdc-#", 7)``,
    ``goldrefresh-12/partials`` → ``("goldrefresh-#/partials", 12)``,
    ``feed:3`` → ``("feed:#", 3)``, ``b0`` → ``("b#", 0)``.

    A ZERO-PADDED run (``batch-007`` — more than one digit, leading
    zero) returns ``None``: replacing it with ``#`` would collapse
    ``batch-007`` and ``batch-7`` into the same (stream, 7) slot, so a
    never-applied batch could read as an already-applied replay and be
    silently dropped. Padded ids fall back to the exact ``other`` list
    — unbounded but exact, the pre-v2 semantics (nothing in the engine
    emits padded ids)."""
    global _SEQ_RE
    if _SEQ_RE is None:
        import re

        _SEQ_RE = re.compile(r"(\d+)(?!.*\d)")
    s = str(bid)
    m = _SEQ_RE.search(s)
    if m is None:
        return None
    run = m.group(1)
    if len(run) > 1 and run[0] == "0":  # zero-padded: exact semantics
        return None
    return s[: m.start()] + "#" + s[m.end():], int(run)


class _Ledger:
    """Exactly-once applied-batch memory, BOUNDED per stream.

    Through round 10 the ledger was a flat JSON list of every id ever
    applied, read and atomically rewritten whole on EVERY merge — at
    micro-batch cadence (1/min ≈ 500k entries/year) each batch paid an
    O(history) driver-side read+write and the exactly-once memory never
    compacted. Batch ids are monotone per stream (structured-streaming
    epoch ids, optionally prefixed/suffixed by the writer), so v2 keeps,
    per stream pattern, a HIGH WATERMARK plus a recent window:

        {"v": 2,
         "streams": {"cdc-#": {"hwm": 40, "recent": [45, 47]}},
         "other": ["no-digits-id"]}

    An id is recorded-as-applied iff its sequence number is <= the
    stream's watermark or in its recent window. CONTRACT (documented,
    relied on by compaction): per-stream sequence numbers are applied in
    non-decreasing order up to a reordering window of ``_LEDGER_WINDOW``
    batches — when the window overflows, the oldest entries are absorbed
    into the watermark, so an id more than ``_LEDGER_WINDOW`` behind the
    stream's frontier is treated as already applied even if it was never
    seen. Structured-streaming epochs satisfy this trivially (they
    commit in order); ad-hoc ids like ``b3`` join the stream of their
    non-digit pattern (``b#``) and get the same guarantee. Ids with no
    digits at all — or with a ZERO-PADDED sequence (``batch-007``, see
    :func:`_split_batch_id`) — fall back to an exact ``other`` list
    (the pre-v2 behavior — unbounded, but nothing in the engine emits
    such ids).

    A v1 list on disk loads transparently (each id folded through
    :meth:`add`), so existing tables upgrade on their next merge.
    """

    def __init__(self, streams: dict | None = None, other: list | None = None):
        self.streams = streams or {}
        self.other = list(other or [])

    @classmethod
    def from_json(cls, data) -> "_Ledger":
        if isinstance(data, list):  # v1: flat id list
            led = cls()
            for bid in data:
                led.add(bid)
            return led
        streams = {
            k: {"hwm": v.get("hwm"), "recent": sorted(int(x) for x in v.get("recent", []))}
            for k, v in (data.get("streams") or {}).items()
        }
        return cls(streams, data.get("other"))

    def to_json(self) -> dict:
        return {"v": 2, "streams": self.streams, "other": self.other}

    def __contains__(self, bid) -> bool:
        parts = _split_batch_id(bid)
        if parts is None:
            return bid in self.other
        stream, seq = parts
        st = self.streams.get(stream)
        if st is None:
            return False
        hwm = st.get("hwm")
        return (hwm is not None and seq <= hwm) or seq in st["recent"]

    def __bool__(self) -> bool:
        return bool(self.streams or self.other)

    def add(self, bid) -> None:
        parts = _split_batch_id(bid)
        if parts is None:
            if bid not in self.other:
                self.other.append(bid)
            return
        stream, seq = parts
        st = self.streams.setdefault(stream, {"hwm": None, "recent": []})
        hwm = st.get("hwm")
        if (hwm is not None and seq <= hwm) or seq in st["recent"]:
            return
        recent = sorted([*st["recent"], seq])
        # absorb the window overflow into the watermark (oldest first),
        # then advance the watermark through any now-contiguous run
        while len(recent) > _LEDGER_WINDOW:
            hwm = recent.pop(0) if hwm is None else max(hwm, recent.pop(0))
        if hwm is not None:
            while recent and recent[0] <= hwm + 1:
                hwm = max(hwm, recent.pop(0))
        st["hwm"], st["recent"] = hwm, recent

    def __add__(self, ids: list) -> "_Ledger":
        import copy

        led = _Ledger(copy.deepcopy(self.streams), list(self.other))
        for bid in ids:
            led.add(bid)
        return led


def _read_ledger(path: str) -> _Ledger:
    try:
        with open(os.path.join(path, _LEDGER)) as f:
            return _Ledger.from_json(json.load(f))
    except OSError:
        return _Ledger()


def _write_ledger_atomic(path: str, applied: _Ledger) -> None:
    _write_json_atomic(path, _LEDGER, applied.to_json())


def _recover_swap(path: str, tmp_suffix: str, old_suffix: str) -> None:
    """Repair a crashed tmp-dir swap before starting a new one: a crash
    between the two renames leaves the live path absent and the old copy
    stranded at ``path + old_suffix`` — restore it; any stale staging or
    old dir beside a live table is a leftover from a failed run — remove
    it (so the upcoming renames replace instead of nesting)."""
    import shutil

    old = path + old_suffix
    tmp = path + tmp_suffix
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for d in (tmp, old):
        if os.path.exists(d) and os.path.exists(path):
            shutil.rmtree(d)


def _atomic_swap(path: str, tmp: str, old: str) -> None:
    """Swap the staged table in via two ``os.rename`` calls (each atomic
    on a POSIX filesystem; the table path is absent only for the instant
    between them) and drop the old copy. A crash mid-swap is repaired by
    :func:`_recover_swap` on the next maintenance call."""
    import shutil

    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def _rewrite(
    spark: SparkSession,
    path: str,
    kind: str,
    target_file_mb: int,
    layout,
    partition_by: tuple[str, ...] = (),
) -> tuple[int, int, int]:
    """The FULL rewrite behind compact, cluster_by and cluster_by_zorder,
    which differ only in ``layout(df, n_tasks)``, the row ordering (see
    :meth:`Lake.compact` for the sizing). The schema-aware read bakes an
    evolved schema into the files; the bloom indexes are rebuilt into
    the stage. Returns ``(rows, files_before, bytes_before)``."""
    import math

    before_files, before_bytes = _file_stats(path)
    df = _read_table(spark, path)
    rows = df.count()
    total_mb = max(before_bytes / 1e6, 1e-3)
    n_tasks = max(1, math.ceil(total_mb / target_file_mb))
    rows_per_file = max(1, int(rows * target_file_mb / total_mb))
    out = layout(df, n_tasks)
    _commit(
        spark,
        path,
        kind,
        lambda stage: _writer(out, partition_by)
        .option("maxRecordsPerFile", rows_per_file)
        .parquet(stage),
        reindex=_indexed_cols(path),
    )
    return rows, before_files, before_bytes


def _unchanged(audit: dict, rows: int, **extra) -> dict:
    """Audit of a MERGE that rewrote nothing (replay or empty batch)."""
    return {**audit, "files_rewritten": 0, "rows_before": rows, "rows_after": rows, **extra}


def _enter(path: str, kind: str) -> str:
    """A mutation's entry: repair whatever a crashed mutation of the
    same ``kind`` left behind (:func:`_recover_swap`), return ``path``."""
    _recover_swap(path, *_SWAP_SUFFIXES[kind])
    return path


def _link_files(src: str, dst: str, rels) -> None:
    """Hard-link each data file ``rel`` of ``src`` into ``dst`` at the
    same relative path: byte-identical (same inode, same mtime), no data
    movement. Spark part-file names are UUID-suffixed, so linked files
    never collide with freshly written ones. ``dst`` exists afterwards
    even when ``rels`` is empty (an empty table links to an empty tree)."""
    for rel in rels:
        target = os.path.join(dst, rel)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        os.link(os.path.join(src, rel), target)
    os.makedirs(dst, exist_ok=True)


def _writer(df: DataFrame, partition_by=()):
    """Overwrite-mode parquet writer, hive-partitioned when asked."""
    w = df.write.mode("overwrite")
    return w.partitionBy(*partition_by) if partition_by else w


def _commit(
    spark: SparkSession | None,
    path: str,
    kind: str,
    write,
    *,
    src: str | None = None,
    keep=(),
    ledger: _Ledger | None = None,
    schema_json: str | None = None,
    reindex=(),
) -> int:
    """The one way a Lake mutation publishes: build the new table in
    the ``kind``'s stage dir, let every sidecar ride it, swap it in.

    1. ``write(stage)`` — the mutation's single staged Spark write (a
       no-op for a pure relink such as :meth:`Lake.restore_version`);
    2. the newly written rows, counted from footers (:func:`_stage_rows`)
       before anything is linked — this is the return value;
    3. with ``src`` (the live table, or a snapshot): hard-link the
       untouched files ``keep`` from it (:func:`_link_files`);
    4. the applied-batch ledger: ``ledger`` if the mutation advanced it,
       else the live table's — so the exactly-once memory survives
       every mutation, including full rewrites whose Spark read never
       sees the sidecar;
    5. the schema sidecar: ``schema_json`` if given, else the one carried
       from ``src`` (linked files may predate an evolution). Full
       rewrites pass neither: they bake the schema into the files;
    6. bloom indexes: the ``reindex`` columns are rebuilt into the
       stage (full rewrites), a linked rewrite carries every index
       (:func:`_carry_file_indexes`);
    7. :func:`_atomic_swap` — or a plain rename when the table does not
       exist yet (first build: one atomic publish).
    """
    tmp_suffix, old_suffix = _SWAP_SUFFIXES[kind]
    stage = path + tmp_suffix
    write(stage)
    new_rows = _stage_rows(stage)  # before the links: new rows only
    if src is not None:
        _link_files(src, stage, keep)
    led = ledger if ledger is not None else _read_ledger(path)
    if led:
        _write_ledger_atomic(stage, led)
    if schema_json is None and src is not None:
        schema_json = _read_schema_json(src)
    if schema_json is not None:
        _write_schema_json(stage, schema_json)
    for col in reindex:
        idx = _read_index(path, col) or {}
        _build_index_at(spark, stage, col, idx.get("fpp", 0.01))
    if src is not None:
        _carry_file_indexes(spark, path, stage, set(keep))
    if os.path.isdir(path):
        _atomic_swap(path, stage, path + old_suffix)
    else:
        os.rename(stage, path)
    return new_rows


def _data_file_rels(path: str) -> list[str]:
    """Relative paths of the data files under a table directory."""
    rels = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                rels.append(os.path.relpath(os.path.join(root, f), path))
    return sorted(rels)


def _stage_rows(stage: str) -> int:
    """Total row count of the data files under ``stage`` from parquet
    footers only (no Spark job, no data read). Used by the merge paths
    to audit how many rows the staged write produced: called right
    after the write and BEFORE untouched files hard-link in, so the sum
    covers exactly the newly written rows. (``Dataset.observe`` would
    fold the count into the write, but in Spark 4.1 a consumed
    Observation leaves JVM state that breaks later RDD-backed jobs —
    see ``featurestore.ingest_features`` — and inside a ``foreachBatch``
    callback its ``get`` never receives the metrics at all and blocks
    until the stream's timeout interrupts it.)"""
    return sum(md.num_rows for md in _footer_metadata(stage, _data_file_rels(stage)))


#: Above this many data files the driver-side footer walks fan out on a
#: thread pool (pyarrow releases the GIL around footer I/O). Below it a
#: serial loop is faster than pool setup — sf0.1 tables hold 1-34 files
#: (profiled 0.1-3 ms/file, 1-6 ms/query total), while a 100 TB table's
#: thousands of footers would serialize a multi-second driver stall per
#: merge without the pool: the pass is O(files / pool_width) instead of
#: O(files).
_FOOTER_POOL_AFTER = 16
_FOOTER_POOL_WIDTH = 16


def _footer_metadata(path: str, rels: list[str]):
    """Parquet footer metadata for each ``rel`` under ``path``, in input
    order — serial for small tables, thread-pooled above
    ``_FOOTER_POOL_AFTER`` files (metadata-only reads, no row data)."""
    import pyarrow.parquet as pq

    def one(rel: str):
        return pq.ParquetFile(os.path.join(path, rel)).metadata

    if len(rels) <= _FOOTER_POOL_AFTER:
        return [one(rel) for rel in rels]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=_FOOTER_POOL_WIDTH) as pool:
        return list(pool.map(one, rels))


def _key_envelopes(path: str, col: str) -> list[tuple]:
    """Per data file: ``(relpath, num_rows, min, max)`` of ``col`` — the
    single-column face of :func:`_key_files`."""
    return _key_files(path, (col,))[0]


def _key_envelopes_multi(path: str, cols: tuple[str, ...]) -> list[tuple]:
    """Per data file: ``(relpath, num_rows, [(min, max) per col])`` from
    ONE parquet-footer read per file (no data read). ``min``/``max`` are
    ``None`` — "assume the file can contain anything" — when a column
    has no usable stats; a hive partition column's exact value is
    parsed from the directory name instead.

    Hive partition-dir values are PERCENT-DECODED: Spark escapes
    special characters when writing the directory name (``a:b`` →
    ``a%3Ab``), and an escaped envelope compared against raw key values
    would silently MISS affected files — stale rows surviving a merge,
    tombstones not deleting, purges no-oping (the same failure class as
    :func:`_local_path` for index keys)."""
    from urllib.parse import unquote

    out = []
    rels = _data_file_rels(path)
    for rel, md in zip(rels, _footer_metadata(path, rels)):
        rows = md.num_rows
        part_vals = {}
        for comp in rel.split(os.sep)[:-1]:
            for col in cols:
                if comp.startswith(f"{col}="):
                    part_vals[col] = unquote(comp.split("=", 1)[1])
        envs = []
        for col in cols:
            if col in part_vals:
                envs.append((part_vals[col], part_vals[col]))
                continue
            try:
                idx = md.schema.names.index(col)
            except ValueError:
                envs.append((None, None))
                continue
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    mn = mx = None
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            envs.append((mn, mx))
        out.append((rel, rows, envs))
    return out


def _envelope_hits(mn, mx, sorted_keys: list) -> bool:
    """Does any purge key fall inside the file's [min,max] key envelope?
    ``None`` bounds (no stats) are conservatively a hit. Partition-dir
    string values compare against the keys' string forms."""
    import bisect

    if not sorted_keys:
        return False
    if mn is None or mx is None:
        return True
    if isinstance(mn, str) and not isinstance(sorted_keys[0], str):
        skeys = sorted(str(k) for k in sorted_keys)
        i = bisect.bisect_left(skeys, mn)
        return i < len(skeys) and skeys[i] <= mx
    try:
        i = bisect.bisect_left(sorted_keys, mn)
    except TypeError:  # unorderable mix: assume hit
        return True
    return i < len(sorted_keys) and sorted_keys[i] <= mx


def _collect_key_vals(keys_df: DataFrame, col: str) -> list:
    """Driver collect of a batch's distinct key values — the BROADCAST
    merge path's key set, used for the driver-side footer-envelope
    prune. NULL keys drop out: a NULL never equals anything in the
    rewrite's equi-joins, so it can't touch a stored row (and a mixed
    None/value set would not even sort). Deliberately a module-level
    seam: tests monkeypatch it to prove the distributed (large-batch)
    path never collects keys."""
    return sorted(
        {r[0] for r in keys_df.select(col).distinct().collect()}
        - {None}
    )


def _key_files(path: str, key_cols: tuple[str, ...]) -> list[list[tuple]]:
    """The envelope walk every key-pruned mutation starts from: per key
    column, per data file ``(relpath, rows, min, max)`` — one footer
    read per file for all columns (:func:`_key_envelopes_multi`). Entry
    0 is the lead column's and doubles as the table's file list."""
    multi = _key_envelopes_multi(path, key_cols)
    return [
        [(rel, rows, *envs[i]) for rel, rows, envs in multi]
        for i in range(len(key_cols))
    ]


def _hit_rels(
    spark: SparkSession,
    files_by_dim: list[list[tuple]],
    key_cols: tuple[str, ...],
    keys_df: DataFrame,
    large: bool,
) -> set[str]:
    """Relpaths of the files that may hold a key of ``keys_df`` — the
    footer-envelope prune shared by purge_keys, merge_changes and
    merge_scd2. Composite keys prune on EVERY key column with usable
    stats, hit sets intersected: each dimension's prune is independently
    conservative (a file excluded by ANY dimension cannot hold any
    touched key tuple), so a low-cardinality lead key still prunes when
    a later key is selective. Later columns whose files are all
    stat-less are skipped (their pass would hit everything and refine
    nothing). ``large`` picks the distributed path
    (:func:`_distributed_prune_frame`, the keys never reach the driver)
    over the broadcast one (:func:`_collect_key_vals`)."""
    hit: set[str] = set()
    for i, files in enumerate(files_by_dim):
        if i and not any(f[2] is not None and f[3] is not None for f in files):
            continue
        if large:
            frame, dim = _distributed_prune_frame(
                spark, files, keys_df.select(key_cols[i])
            )
            if frame is not None:
                dim = dim | {r["_rel"] for r in frame.collect()}
        else:
            vals = _collect_key_vals(keys_df, key_cols[i])
            dim = {f[0] for f in files if _envelope_hits(f[2], f[3], vals)}
        hit = dim if i == 0 else hit & dim
        if not hit:
            break
    return hit


def _distributed_prune_frame(
    spark: SparkSession, files: list[tuple], keys_df: DataFrame
) -> tuple[DataFrame | None, set[str]]:
    """The distributed envelope prune of a LARGE batch (``_hit_rels``'
    ``large`` path): join the batch's distinct keys (``keys_df``, one
    column) against a file-envelope DataFrame (one metadata row per data
    file) so only hit RELPATHS reach the driver — file-count-bounded,
    never key-count-bounded, the metadata-side prune Delta/Iceberg run
    against their file stats. Returned un-executed so plan tests can
    assert its shape: ``(hit-relpath frame | None, conservative no-stats
    relpaths)`` — files whose stats are missing or don't CAST to the key
    type (the hive partition-dir string case) are always affected,
    matching :func:`_envelope_hits`.

    The envelope join is a broadcast nested loop (range predicate):
    |probe| × |files| comparisons, so the probe side is COARSENED
    before the join:

    - **INTEGRAL keys** — distinct W-width buckets instead of raw keys,
      W sized so the bucket count is ~8× the file count. A backfill
      then probes O(files) buckets instead of tens of millions of keys
      (5e11 → 1e8 comparisons at 50M keys × 10k files). The global
      [lo, hi] comes from the FILE ENVELOPES the driver already holds —
      not from an extra aggregation over the keys — so the probe side
      costs exactly ONE shuffle (the bucket distinct); keys outside
      the envelope range can't hit any file, so whatever bucket they
      land in is harmless. All bucket arithmetic runs in
      ``decimal(38,0)``: ``col - lo`` on a wide-span bigint key (hash
      surrogates near ±2^63) overflows int64 — ANSI mode aborts the
      merge, legacy mode wraps and silently MISSES affected files —
      and the bucket index uses ``div`` (exact integral division; a
      rounded decimal divide could float a boundary key into the
      neighbor bucket). The top bucket's upper bound is clamped to
      ``hi``. NULL keys bucket to NULL and match no envelope — the
      anti-join's equi-semantics (NULL keys touch nothing).
    - **STRING keys** (uuid/email CDC shapes) — distinct byte-PREFIX
      buckets. Lexicographic truncation is monotone (a ≤ b ⇒
      prefix(a) ≤ prefix(b) for any shared length), so a file holding
      key k satisfies prefix(mn) ≤ prefix(k) ≤ prefix(mx): bucket-level
      hits are CONSERVATIVE — extra boundary files swept in, never
      missed rows. Prefix length is the shortest of a fixed ladder
      whose distinct-prefix count reaches ~8× the file count (one
      ``approx_count_distinct`` pass; sketch partials, not keys, reach
      the driver). A corpus whose longest ladder rung is still coarser
      just probes fewer rows — correct either way.
    - anything else (dates, decimals, floats) probes raw keys.

    Bucket granularity ~8× finer than the average envelope keeps the
    sweep-in to a thin boundary band; every real key lies inside its
    bucket, so the prune never misses a file (extra rewrite I/O only).
    """
    import datetime
    from decimal import Decimal

    col = keys_df.columns[0]
    # bounds must string-round-trip through a Spark cast; bytes (binary
    # column stats) and anything exotic fall back to conservative reads
    ok = (str, int, float, bool, datetime.date, datetime.datetime, Decimal)

    def _castable(f):
        return isinstance(f[2], ok) and isinstance(f[3], ok)

    no_stats = {f[0] for f in files if not _castable(f)}
    concrete = [f for f in files if _castable(f)]
    if not concrete:
        return None, no_stats
    ktype = keys_df.schema[col].dataType.simpleString()
    # envelope bounds travel as strings and cast to the key type in
    # Spark (partition-dir values are strings even for int keys; a
    # failed try_cast → NULL → conservative hit, like _envelope_hits —
    # try_cast, not cast, so ANSI mode can't abort on an odd stat)
    env = spark.createDataFrame(
        [(f[0], str(f[2]), str(f[3])) for f in concrete],
        "_rel string, _mn string, _mx string",
    )
    DEC = "decimal(38,0)"
    lo = hi = None
    if ktype in ("tinyint", "smallint", "int", "bigint"):
        try:  # envelope-derived global bounds: metadata, no key pass
            lo = min(int(f[2]) for f in concrete)
            hi = max(int(f[3]) for f in concrete)
        except (TypeError, ValueError):  # unparseable stats: raw probe
            lo = hi = None
    if lo is not None and hi is not None:
        span = hi - lo + 1
        w = max(1, span // max(1, 8 * len(concrete)))
        lo_d = F.lit(str(lo)).cast(DEC)
        w_d = F.lit(str(w)).cast(DEC)
        probe = (
            keys_df.select((F.col(col).cast(DEC) - lo_d).alias("_off"))
            .select(F.expr(f"_off div cast('{w}' as {DEC})").alias("_b"))
            .distinct()
        )
        b_lo = lo_d + F.col("_b").cast(DEC) * w_d
        b_hi = F.least(b_lo + w_d - F.lit("1").cast(DEC), F.lit(str(hi)).cast(DEC))
        mn_b, mx_b = F.col("_mn").try_cast(DEC), F.col("_mx").try_cast(DEC)
        cond = mn_b.isNull() | mx_b.isNull() | ((b_hi >= mn_b) & (b_lo <= mx_b))
    elif ktype == "string":
        target = 8 * len(concrete)
        ladder = (1, 2, 3, 4, 6, 8, 12, 16, 24, 32)
        cnts = keys_df.agg(
            *[
                F.approx_count_distinct(
                    F.substring(F.col(col), 1, p)
                ).alias(f"_c{p}")
                for p in ladder
            ]
        ).first()
        plen = next(
            (p for p in ladder if cnts[f"_c{p}"] >= target), ladder[-1]
        )
        probe = keys_df.select(
            F.substring(F.col(col), 1, plen).alias("_p")
        ).distinct()
        p = F.col("_p")
        cond = (p >= F.substring(F.col("_mn"), 1, plen)) & (
            p <= F.substring(F.col("_mx"), 1, plen)
        )
    else:
        probe = keys_df
        k = F.col(col)
        mn, mx = F.col("_mn").try_cast(ktype), F.col("_mx").try_cast(ktype)
        cond = mn.isNull() | mx.isNull() | ((k >= mn) & (k <= mx))
    return probe.join(F.broadcast(env), cond).select("_rel").distinct(), no_stats


def _partition_cols(path: str) -> list[str]:
    """Hive partition columns of a table directory, outermost first,
    inferred from ``col=value`` directory names."""
    cols: list[str] = []
    p = path
    while True:
        subs = [
            d
            for d in sorted(os.listdir(p))
            if "=" in d and os.path.isdir(os.path.join(p, d))
        ]
        if not subs:
            return cols
        cols.append(subs[0].split("=", 1)[0])
        p = os.path.join(p, subs[0])


def _read_amplification(path: str, col: str) -> float | None:
    """Expected row groups hit by a uniformly random point probe on
    ``col``: Σ(row-group [min,max] width) / global width, from parquet
    footers only. None when stats are absent or the column isn't
    numeric/orderable, or the global range is degenerate."""
    ranges = []
    for md in _footer_metadata(path, _data_file_rels(path)):
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            ranges.append((st.min, st.max))
    if not ranges:
        return None
    lo = min(r[0] for r in ranges)
    hi = max(r[1] for r in ranges)
    try:
        width = hi - lo
        if not width > (width * 0):  # degenerate global range
            return None
        total = None
        for r in ranges:
            w = r[1] - r[0]
            total = w if total is None else total + w
        return float(total / width)  # int/int, float/float, timedelta/timedelta
    except TypeError:  # unordered/unsubtractable min-max (strings): report None
        return None


def _indexed_cols(path: str) -> list[str]:
    """Columns carrying a per-file bloom index sidecar."""
    try:
        names = os.listdir(path)
    except OSError:
        return []
    out = []
    for n in names:
        if n.startswith("_file_bloom_") and n.endswith(".json"):
            out.append(n[len("_file_bloom_"):-len(".json")])
    return sorted(out)


#: seed pool for the per-file bloom index (k ≤ 7 seeded xxhash64 probes)
BLOOM_SEEDS = (0x5BD1, 0x9E37, 0x85EB, 0xC2B2, 0x27D4, 0x1656, 0xFC1F)


def _bloom_pos_exprs(col: str, m: int, k: int) -> list:
    """k bloom bit positions per value: ``pmod(xxhash64(value, seed_i),
    m)``. Hashing runs IN SPARK on both the build and the probe side,
    so the index can never diverge from a Python re-implementation of
    the hash."""
    return [
        F.pmod(F.xxhash64(F.col(col), F.lit(int(s))), F.lit(m))
        for s in BLOOM_SEEDS[:k]
    ]


def _local_path(uri: str) -> str:
    """OS path from ``input_file_name()``'s URI form: scheme stripping
    plus PERCENT-DECODING. Paths and hive partition values containing
    spaces/%/# arrive percent-encoded; a bare ``replace('file://','')``
    leaves them encoded, so derived index keys would never match the
    envelope walk's ``os.walk`` relpaths — a silently never-pruning
    index."""
    from urllib.parse import unquote, urlparse

    if "://" not in uri:
        return unquote(uri)
    return unquote(urlparse(uri).path)


def _bloom_entries(
    spark: SparkSession,
    table_path: str,
    file_paths: list[str] | None,
    col: str,
    m: int,
    k: int,
) -> dict[str, str]:
    """{relpath: b64 bitmap} per-file bloom entries — the distributed
    bit-position scan shared by :meth:`Lake.build_file_index` (whole
    table, ``file_paths=None``) and the post-merge index refresh
    (rewritten files only). The driver packs position sets into bitmaps
    — O(files × m/8) bytes, never row data."""
    import base64

    df = _read_table(spark, table_path, file_paths).select(
        F.input_file_name().alias("_f"),
        F.explode(F.array(*_bloom_pos_exprs(col, m, k))).alias("_p"),
    )
    rows = (
        df.groupBy("_f")
        .agg(F.sort_array(F.collect_set("_p")).alias("_ps"))
        .collect()
    )
    entries = {}
    for r in rows:
        bits = bytearray(m // 8)
        for pos in r["_ps"]:
            bits[pos >> 3] |= 1 << (pos & 7)
        rel = os.path.relpath(_local_path(r["_f"]), table_path)
        entries[rel] = base64.b64encode(bytes(bits)).decode()
    return entries


def _build_index_at(spark: SparkSession, path: str, col: str, fpp: float) -> dict:
    """Build (or rebuild) the per-file bloom index for ``col`` over the
    table directory at ``path`` — which may be a STAGED rewrite: the
    full-rewrite maintenance paths (compact / cluster_by / zorder)
    build the fresh index into their staged tree so it RIDES the atomic
    swap; a crash can then never leave a live table whose index was
    dropped by the swap but not yet rebuilt (silent pruning decay).

    The index records the per-file row count and ``fpp`` it was sized
    for, so a linked rewrite can tell when its new files outgrow it."""
    import math

    files = _key_envelopes(path, col)
    max_rows = max((f[1] for f in files), default=1) or 1
    m_raw = int(-max_rows * math.log(max(fpp, 1e-9)) / (math.log(2) ** 2))
    m = 1 << max(6, (m_raw - 1).bit_length())
    k = min(len(BLOOM_SEEDS), max(1, round(m / max_rows * math.log(2))))
    entries = _bloom_entries(spark, path, None, col, m, k)
    index = {"col": col, "m": m, "k": k, "rows": max_rows, "fpp": fpp, "files": entries}
    _write_json_atomic(path, f"_file_bloom_{col}.json", index)
    return {"col": col, "m": m, "k": k, "files_indexed": len(entries)}


def _read_index(path: str, col: str) -> dict | None:
    """The bloom index sidecar of ``col`` under ``path``, or None."""
    try:
        with open(os.path.join(path, f"_file_bloom_{col}.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _carry_file_indexes(
    spark: SparkSession | None, path: str, stage: str, linked_rels: set[str]
) -> None:
    """Maintain per-file bloom indexes (:meth:`Lake.build_file_index`)
    through a file-pruned rewrite, inside the same staged swap: files
    hard-linked into ``stage`` keep their entries (same bytes, same
    relpath); rewritten/new files get fresh entries scanned with the
    index's existing ``(m, k)``. Point-lookup pruning therefore does
    NOT decay between compactions; cost is O(rewritten files) — the
    same order as the rewrite itself.

    A new file with more rows than the index was sized for would fill
    its ``m`` bits past the target fpp (a 4x larger file under ``k=7``
    reads as "maybe" for most probes, and pruning silently stops), so
    then the column's index is rebuilt over the whole stage with the
    recorded ``fpp`` (:func:`_build_index_at`). Indexes from before the
    size was recorded are carried as they are. Either way the index
    stays advisory: point_lookup reads unindexed files conservatively
    and bloom hits are verified by the actual filter."""
    cols = _indexed_cols(path)
    if not cols:
        return
    new_rels = [r for r in _data_file_rels(stage) if r not in linked_rels]
    new_max = max(
        (md.num_rows for md in _footer_metadata(stage, new_rels)), default=0
    )
    for col in cols:
        idx = _read_index(path, col)
        if idx is None:
            continue
        if new_max > idx.get("rows", new_max):
            _build_index_at(spark, stage, col, idx["fpp"])
            continue
        kept = {
            rel: b64
            for rel, b64 in idx.get("files", {}).items()
            if rel in linked_rels
        }
        if new_rels:
            kept.update(
                _bloom_entries(
                    spark,
                    stage,
                    [os.path.join(stage, r) for r in new_rels],
                    col,
                    idx["m"],
                    idx["k"],
                )
            )
        _write_json_atomic(stage, f"_file_bloom_{col}.json", {**idx, "files": kept})


def _file_stats(path: str) -> tuple[int, int]:
    """(data file count, total bytes) under a table directory —
    control-plane metadata walk, driver-side by design."""
    rels = _data_file_rels(path)
    return len(rels), sum(os.path.getsize(os.path.join(path, r)) for r in rels)


def read_any(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Multi-format reader dispatching on extension (SURVEY.md §2.1 S7)."""
    fmt = fmt or _infer_format(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "csv":
        return spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    if fmt == "json":
        return spark.read.json(path)
    if fmt == "orc":  # columnar alternative; built into Spark, no extra jars
        return spark.read.orc(path)
    raise ValueError(f"unsupported format {fmt!r} for {path}")


def _infer_format(path: str) -> str:
    lowered = path.lower().rstrip("/")
    for ext, fmt in (
        (".parquet", "parquet"),
        (".csv", "csv"),
        (".json", "json"),
        (".jsonl", "json"),
        (".orc", "orc"),
    ):
        if lowered.endswith(ext):
            return fmt
    return "parquet"


def forget_users_report(
    spark: SparkSession, sf_dir: str, lake: Lake | None = None, modulus: int = 97
) -> DataFrame:
    """Driver-contract query: stage a bronze events table and a gold
    per-user rollup in a throwaway lake, purge a deterministic opt-out
    cohort (``user_id % modulus == 0``) from BOTH with
    :meth:`Lake.purge_keys`, and report per table: rows before /
    removed / after plus ``remaining_optout_rows`` read back from the
    purged table — the erasure proof a compliance log wants (must be 0,
    and the oracle asserts it arithmetically).

    The deterministic cohort is what makes the mutation oracle-exact:
    DuckDB predicts every count from the rule without seeing the lake.
    """
    from dataengineeringpipeline_spark.functions import money_sum

    if lake is None:
        lake = Lake(tracked_mkdtemp("forget_"))
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "user_id", "event_type", F.col("value").cast("double").alias("value")
    )
    lake.write(ev, "bronze", "events_raw")
    lake.write(
        ev.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("events"),
            money_sum("value", "total_value"),
        ),
        "gold",
        "user_activity",
    )
    optout = ev.select("user_id").distinct().filter(F.col("user_id") % modulus == 0)
    rows = []
    for layer, table in (("bronze", "events_raw"), ("gold", "user_activity")):
        audit = lake.purge_keys(spark, layer, table, "user_id", optout)
        remaining = (
            lake.read(spark, layer, table)
            .filter(F.col("user_id") % modulus == 0)
            .count()
        )
        rows.append(
            (
                audit["table"],
                audit["rows_before"],
                audit["rows_removed"],
                audit["rows_after"],
                remaining,
            )
        )
    return spark.createDataFrame(
        rows,
        "table_name string, rows_before long, rows_removed long,"
        " rows_after long, remaining_optout_rows long",
    ).orderBy("table_name")


def _cdc_merged_lake(
    spark: SparkSession, sf_dir: str, prefix: str, versioned: bool = False, **lake_kw
) -> tuple[Lake, dict, tuple[int, ...]]:
    """The CDC fixture shared by the lake contract queries: the pre-1999
    order snapshot staged key-clustered as ``silver.orders_current`` in
    a fresh temp lake (removed by ``release_caches``), then the 2001+
    shipment changelog (``R`` return flag = tombstone) merged into it.
    ``versioned`` commits a time-travel snapshot before and after the
    merge. Returns ``(lake, merge audit, snapshot versions)``."""
    from .scd import _CDC_ORDER_TIEBREAK, _cdc_order_frames

    snapshot, changes = _cdc_order_frames(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet")),
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")),
    )
    lake = Lake(tracked_mkdtemp(prefix), **lake_kw)
    lake.write_clustered(snapshot, "silver", "orders_current", ("order_key",))
    versions = []
    if versioned:
        versions.append(lake.snapshot_version("silver", "orders_current"))
    audit = lake.merge_changes(
        spark,
        "silver",
        "orders_current",
        changes,
        key_col="order_key",
        ts_col="last_change",
        tiebreak_cols=_CDC_ORDER_TIEBREAK,
    )
    if versioned:
        versions.append(lake.snapshot_version("silver", "orders_current"))
    return lake, audit, tuple(versions)


def lake_cdc_merged_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the PHYSICAL lake face of the CDC apply —
    stage the pre-1999 order snapshot as a key-clustered lake table,
    :meth:`Lake.merge_changes` the 2001+ shipment changelog into it
    (file-pruned rewrite + hard-linked untouched files), and read the
    merged table back. The oracle is the same batch arithmetic as
    ``scd.cdc_order_snapshot``: a lakehouse MERGE INTO must leave the
    table exactly as the logical apply computes, or it is wrong."""
    lake, _audit, _versions = _cdc_merged_lake(spark, sf_dir, "cdc_merge_")
    return (
        lake.read(spark, "silver", "orders_current")
        .select("order_key", "status", "total_price", "last_change")
        .orderBy("order_key")
    )


def lake_backfill_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the BACKFILL face of
    ``lake_cdc_merged_snapshot`` — the identical snapshot + changelog,
    merged with ``merge_broadcast_keys=0`` so the whole batch takes the
    DISTRIBUTED key path (file prune via the envelope join, shuffle
    anti-join for kept rows; the driver never holds the key set).
    Shares the batch-apply oracle: the key-path switch must be
    invisible in the data."""
    lake, audit, _versions = _cdc_merged_lake(
        spark, sf_dir, "backfill_merge_", merge_broadcast_keys=0
    )
    assert audit["key_path"] == "distributed", audit
    return (
        lake.read(spark, "silver", "orders_current")
        .select("order_key", "status", "total_price", "last_change")
        .orderBy("order_key")
    )


def _indexed_orders_lake(
    spark: SparkSession, sf_dir: str, prefix: str, *extra_cols
) -> tuple[Lake, list]:
    """The bloom-index fixture of the point-lookup queries: orders
    (key, status, price, ``extra_cols``) staged UNCLUSTERED as
    ``silver.orders_flat`` in a fresh temp lake — 16 round-robin files,
    so every file's key envelope covers every key — with a per-file
    bloom index on ``order_key``. Returns ``(lake, probe keys)``: the
    first 8 keys divisible by 997."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
        *extra_cols,
    )
    lake = Lake(tracked_mkdtemp(prefix))
    lake.write(orders.repartition(16), "silver", "orders_flat")
    lake.build_file_index(spark, "silver", "orders_flat", "order_key")
    probe = (
        orders.filter(F.col("order_key") % 997 == 0)
        .select("order_key")
        .orderBy("order_key")
        .limit(8)
    )
    return lake, [r["order_key"] for r in probe.collect()]


def lake_indexed_merge_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: bloom-index MAINTENANCE through MERGE —
    stage orders unclustered (envelopes can't prune), build the
    per-file bloom index on ``order_key``, MERGE a changes batch
    (patch the even probed keys, tombstone the odd ``% 3 == 0`` ones,
    insert a brand-new key), then point-look-up the probe set. The
    index entries for rewritten files are refreshed inside the merge's
    swap, so the lookup still PRUNES (asserted) and — the oracle — the
    answer equals the plain reconstruction in SQL."""
    lake, probe = _indexed_orders_lake(spark, sf_dir, "indexed_merge_")
    upd = [
        (k, "MERGED", -1.0, "U", 1) for k in probe if k % 2 == 0
    ]
    dels = [
        (k, None, None, "D", 2) for k in probe if k % 2 != 0 and k % 3 == 0
    ]
    ins = [(987654321, "INSERTED", -2.0, "U", 1)]
    changes = spark.createDataFrame(
        upd + dels + ins,
        "order_key long, status string, total_price double, op string, ts int",
    )
    lake.merge_changes(
        spark, "silver", "orders_flat", changes, key_col="order_key", ts_col="ts"
    )
    out, report = lake.point_lookup(
        spark, "silver", "orders_flat", "order_key", probe + [987654321]
    )
    # the maintained index must still prune (deterministic: same data,
    # same hashes) — decay to a full read means maintenance regressed
    assert report["bloom_indexed"], report
    assert report["files_read"] < report["files_total"], report
    return out.orderBy("order_key")


def lake_scd2_merged_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the PHYSICAL lake face of the SCD2 apply —
    stage the pre-1997 customer-priority history as a key-clustered lake
    table (the opening order's key stored as the carried tiebreaker, so
    re-derivation reproduces the original total order),
    :meth:`Lake.merge_scd2` the 1997+ orders into it (file-pruned
    rewrite + hard-linked untouched files), and read the merged history
    back. The oracle is the two-phase arithmetic itself: derive history
    on the first batch, then re-derive touched keys over (surviving
    version-openers ∪ new changes) — a lakehouse SCD2 MERGE must leave
    the table exactly as the logical apply computes."""
    from .scd import scd2_history

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    changes = orders.select(
        F.col("o_custkey").alias("customer_key"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("change_date"),
        F.col("o_orderkey").alias("order_key"),
    )
    split = F.lit("1997-01-01").cast("date")
    hist1 = scd2_history(
        changes.filter(F.col("change_date") < split),
        key_cols=["customer_key"],
        attr_cols=["priority"],
        ts_col="change_date",
        tiebreak_cols=["order_key"],
        carry_cols=["order_key"],
    )
    lake = Lake(tracked_mkdtemp("scd2_merge_"))
    lake.write_clustered(hist1, "gold", "priority_history", ("customer_key",))
    lake.merge_scd2(
        spark,
        "gold",
        "priority_history",
        changes.filter(F.col("change_date") >= split),
        key_col="customer_key",
        attr_cols=("priority",),
        ts_col="change_date",
        tiebreak_cols=("order_key",),
        carry_cols=("order_key",),
    )
    return (
        lake.read(spark, "gold", "priority_history")
        .select(
            "customer_key",
            "priority",
            "order_key",
            "valid_from",
            "valid_to",
            "version",
            "is_current",
        )
        .orderBy("customer_key", "version")
    )


def lake_time_travel_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: TIME TRAVEL across a destructive mutation —
    stage the pre-1999 order snapshot (same construction as
    :func:`lake_cdc_merged_snapshot`), commit version 1, MERGE the 2001+
    shipment changelog into the live table (which rewrites/deletes the
    old data files), commit version 2, then aggregate BOTH historical
    reads side by side. Version 1's rows must still be exactly the
    pre-merge table — the hard-linked snapshot outlives the mutation —
    and version 2 must equal the CDC-applied state, so the oracle is the
    pre-merge aggregate UNION the post-merge (latest-per-key) aggregate.
    """
    lake, _audit, (v1, v2) = _cdc_merged_lake(
        spark, sf_dir, "time_travel_", versioned=True
    )
    from .functions import money_sum

    # v1 is read back TIMESTAMP AS OF its own commit instant (resolved
    # from DESCRIBE HISTORY), v2 by version number — the two time-travel
    # addressing modes must land on the same snapshots, so the oracle
    # (pre-merge aggregate ∪ post-merge aggregate) covers both.
    commits = {
        h["version"]: h["committed_us"]
        for h in lake.history("silver", "orders_current")
    }

    def agg(version: int, as_of=None) -> DataFrame:
        read = (
            lake.read_version(spark, "silver", "orders_current", as_of=as_of)
            if as_of is not None
            else lake.read_version(spark, "silver", "orders_current", version)
        )
        return (
            read.groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("order_count"),
                money_sum("total_price", "total_value"),
            )
            .select(F.lit(version).alias("version"), "status", "order_count", "total_value")
        )

    return agg(v1, as_of=commits[v1]).unionByName(agg(v2)).orderBy("version", "status")


def lake_version_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the CHANGE DATA FEED read off two
    time-travel snapshots around the same CDC merge as
    :func:`lake_time_travel_totals` — per change type, the row count and
    the key range. The oracle derives the same three sets from the
    snapshot/changelog arithmetic directly (insert = latest non-delete
    keys absent from the snapshot; delete = snapshot keys whose latest
    change is a tombstone; update = both present with a differing
    payload), so the diff-of-snapshots must reproduce the change log it
    never saw."""
    lake, _audit, (v1, v2) = _cdc_merged_lake(
        spark, sf_dir, "version_cdf_", versioned=True
    )
    feed = lake.version_changes(
        spark, "silver", "orders_current", v1, v2, ("order_key",)
    )
    types = spark.createDataFrame(
        [("insert",), ("delete",), ("update",)], "change_type string"
    )
    counts = feed.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("order_key").alias("min_key"),
        F.max("order_key").alias("max_key"),
    )
    return (
        types.join(counts, "change_type", "left")
        .select(
            "change_type",
            F.coalesce("n_rows", F.lit(0).cast("long")).alias("n_rows"),
            "min_key",
            "max_key",
        )
        .orderBy("change_type")
    )


def lake_schema_evolution_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: ADD-COLUMN schema evolution on a live lake
    table — stage the pre-1997 order snapshot key-clustered, MERGE a
    changes batch that carries a NEW ``sales_channel`` column
    (``evolve_schema=True``: 1997 inserts, repriced updates on
    ``key % 100 = 0``, tombstones on ``key % 97 = 0``, delete-beats-
    update on the overlap by change timestamp), and aggregate the
    evolved table per channel. Pre-evolution rows MUST read the new
    column as NULL (they group under the NULL channel) without any file
    rewrite beyond the merge's own footer-pruned one — the oracle
    reconstructs the merged state in plain SQL, so a pass proves both
    the merge semantics and the sidecar-schema read path."""
    from .functions import money_sum

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    od = F.col("o_orderdate").cast("date")
    base = orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
        od.alias("last_change"),
    )
    snap = base.filter(od < F.lit("1997-01-01").cast("date"))
    channel = (
        F.when(F.col("order_key") % 3 == 0, "WEB")
        .when(F.col("order_key") % 3 == 1, "APP")
        .otherwise("STORE")
    )
    ins = (
        base.filter(
            (od >= F.lit("1997-01-01").cast("date"))
            & (od < F.lit("1998-01-01").cast("date"))
        )
        .withColumn("sales_channel", channel)
        .withColumn("op", F.lit("U"))
    )
    upd = (
        snap.filter(F.col("order_key") % 100 == 0)
        .withColumn("total_price", F.col("total_price") + F.lit(10.0))
        .withColumn("status", F.lit("REPRICED"))
        .withColumn("last_change", F.lit("1998-06-01").cast("date"))
        .withColumn("sales_channel", channel)
        .withColumn("op", F.lit("U"))
    )
    dels = (
        snap.filter(F.col("order_key") % 97 == 0)
        .withColumn("last_change", F.lit("1998-07-01").cast("date"))
        .withColumn("sales_channel", F.lit(None).cast("string"))
        .withColumn("op", F.lit("D"))
    )
    changes = ins.unionByName(upd).unionByName(dels)
    lake = Lake(tracked_mkdtemp("schema_evo_"))
    lake.write_clustered(snap, "silver", "orders_current", ("order_key",))
    lake.merge_changes(
        spark,
        "silver",
        "orders_current",
        changes,
        key_col="order_key",
        ts_col="last_change",
        evolve_schema=True,
    )
    return (
        lake.read(spark, "silver", "orders_current")
        .groupBy("sales_channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("total_price", "revenue"),
        )
        .orderBy("sales_channel")
    )


def lake_point_lookup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: point lookup through the two-level data
    skip — stage orders UNCLUSTERED (date order, so keys scatter and
    every file's footer [min,max] envelope covers every key: envelopes
    alone cannot prune), build the per-file bloom index on
    ``order_key``, and look up a deterministic key set. The bloom prune
    reads a handful of files instead of the table (report asserted in
    tests); the oracle is the plain ``WHERE key IN (...)`` — data
    skipping must never change the answer."""
    lake, keys = _indexed_orders_lake(
        spark, sf_dir, "point_lookup_", F.col("o_orderdate").cast("date").alias("order_date")
    )
    out, _report = lake.point_lookup(
        spark, "silver", "orders_flat", "order_key", keys
    )
    return out.orderBy("order_key")


def lake_partial_update_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: partial-column MERGE — stage the pre-1997
    order snapshot key-clustered, apply a changes batch that carries
    ONLY the status column (``update_cols=("status",)``: flag
    ``key % 50 = 0``, tombstone ``key % 97 = 0`` with the later change
    timestamp winning the overlap, insert 1997-H1 keys whose unnamed
    ``total_price`` lands NULL), and aggregate per status. Patched rows
    MUST keep their stored ``total_price``; the oracle reconstructs the
    patch in plain SQL."""
    from .functions import money_sum

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    od = F.col("o_orderdate").cast("date")
    snap = orders.filter(od < F.lit("1997-01-01").cast("date")).select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
    )
    upd = (
        snap.filter(F.col("order_key") % 50 == 0)
        .select("order_key")
        .withColumn("status", F.lit("FLAGGED"))
        .withColumn("op", F.lit("U"))
        .withColumn("change_ts", F.lit("1998-01-01").cast("date"))
    )
    dels = (
        snap.filter(F.col("order_key") % 97 == 0)
        .select("order_key")
        .withColumn("status", F.lit(None).cast("string"))
        .withColumn("op", F.lit("D"))
        .withColumn("change_ts", F.lit("1998-02-01").cast("date"))
    )
    ins = (
        orders.filter(
            (od >= F.lit("1997-01-01").cast("date"))
            & (od < F.lit("1997-07-01").cast("date"))
        )
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.concat(F.lit("NEW-"), F.col("o_orderstatus")).alias("status"),
        )
        .withColumn("op", F.lit("U"))
        .withColumn("change_ts", F.lit("1998-01-01").cast("date"))
    )
    lake = Lake(tracked_mkdtemp("partial_update_"))
    lake.write(
        snap.repartitionByRange(8, "order_key").sortWithinPartitions("order_key"),
        "silver",
        "orders_current",
    )
    lake.merge_changes(
        spark,
        "silver",
        "orders_current",
        upd.unionByName(dels).unionByName(ins),
        key_col="order_key",
        ts_col="change_ts",
        update_cols=("status",),
    )
    return (
        lake.read(spark, "silver", "orders_current")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum("total_price", "revenue"),
        )
        .orderBy("status")
    )


def lake_retention_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: SNAPSHOT RETENTION around live mutations —
    the same staged snapshot + CDC merge as
    :func:`lake_time_travel_totals` (version 1 pre-merge, version 2
    post-merge), then a purge of the ``order_key % 71 == 0`` cohort
    (version 3), then :meth:`Lake.expire_snapshots(keep_last=2)`:
    version 1 must be GONE (a new read raises), a planted stale staging
    tree must be vacuumed, and versions 2 and 3 must read back
    byte-identically to their pre-expiry states — the aggregate of both
    retained versions is the result, and the oracle reconstructs the
    post-merge and post-purge states in plain SQL. A pass proves expiry
    removes exactly the expired history and nothing else."""
    from .functions import money_sum

    lake, _audit, (v1, v2) = _cdc_merged_lake(
        spark, sf_dir, "retention_", versioned=True
    )
    optout = (
        lake.read(spark, "silver", "orders_current")
        .select("order_key")
        .filter(F.col("order_key") % 71 == 0)
        .distinct()
    )
    lake.purge_keys(spark, "silver", "orders_current", "order_key", optout)
    v3 = lake.snapshot_version("silver", "orders_current")
    # plant a stale staging tree (a crashed merge's leftover): expiry's
    # vacuum ride-along must sweep it
    stale = lake.path("silver", "orders_current") + "__merging"
    os.makedirs(stale, exist_ok=True)
    rep = lake.expire_snapshots("silver", "orders_current", keep_last=2)
    assert rep["expired"] == [v1] and rep["retained"] == [v2, v3], rep
    assert "orders_current__merging" in rep["stale_stages_removed"], rep
    assert not os.path.exists(stale)
    assert lake.versions("silver", "orders_current") == [v2, v3]
    try:  # a NEW read of the expired version must raise, clearly
        lake.read_version(spark, "silver", "orders_current", v1)
        raise AssertionError("expired version still readable")
    except ValueError:
        pass

    def agg(version: int) -> DataFrame:
        return (
            lake.read_version(spark, "silver", "orders_current", version)
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("order_count"),
                money_sum("total_price", "total_value"),
            )
            .select(
                F.lit(version).alias("version"),
                "status",
                "order_count",
                "total_value",
            )
        )

    return agg(v2).unionByName(agg(v3)).orderBy("version", "status")
